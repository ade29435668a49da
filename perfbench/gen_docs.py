"""The documents table the corpus_stages workload reads.

Its base is a fixed sample of the sf0.1 `documents` fixture table, committed
as data/documents_sf0.1_sample.parquet (doc_id, text, lang, source, n_chars
as in the fixture). On the whole fixture table six stages of the README
chain pass their input through unchanged: dedupSegments already drops every
exact copy, no near copy survives it, no two documents share a long span
and no text holds an email, IP address or phone number. `generate`
therefore adds, with a fixed seed:

  - exact copies of long documents (dedupSegments drops them; the
    dedupExact side check finds them before the segment dedup),
  - near copies, one word prepended, which shifts every 16-word segment so
    they survive dedupSegments and meet dedupNearQualitySurvivor (and the
    dedupNearVerified side check),
  - pairs of new documents that share a 70-word span at offsets that are
    not a multiple of 16 apart, so only filterDupSpans catches them,
  - an email, an IPv4 address and a phone number in some long documents,
    for redactPii.

Usage:
  python3 gen_docs.py <out_dir>                  write <out_dir>/documents.parquet
  python3 gen_docs.py --sample <sf0.1_dir> <n>   re-draw the committed sample
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
SAMPLE = os.path.join(HERE, "data", "documents_sf0.1_sample.parquet")
SAMPLE_SEED = 7
ADD_SEED = 11
FIRST_NEW_ID = 1_000_000
N_EXACT, N_NEAR, N_SPAN_PAIRS, N_PII = 8, 8, 4, 16
SPAN_WORDS = 70


def sample(sf_dir, n):
    """Draw `n` rows of the sf0.1 documents table, kept in doc_id order."""
    t = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    rows = np.sort(np.random.default_rng(SAMPLE_SEED).choice(t.num_rows, n, replace=False))
    t = t.take(pa.array(rows)).sort_by("doc_id")
    os.makedirs(os.path.dirname(SAMPLE), exist_ok=True)
    pq.write_table(t, SAMPLE)


def generate(out):
    t = pq.read_table(SAMPLE)
    ids = t["doc_id"].to_pylist()
    texts = t["text"].to_pylist()
    langs = t["lang"].to_pylist()
    sources = t["source"].to_pylist()
    rng = np.random.default_rng(ADD_SEED)
    vocab = sorted({w for s in texts for w in s.split()})
    # long documents clear the per-language median filter; doc_id % 50 >= 8
    # keeps them out of every seed variant's eval slice
    long_ = [i for i, s in enumerate(texts) if len(s.split()) >= 60 and ids[i] % 50 >= 8]
    picks = rng.choice(long_, N_EXACT + N_NEAR + N_PII, replace=False)
    exact, near, pii = picks[:N_EXACT], picks[N_EXACT:N_EXACT + N_NEAR], picks[N_EXACT + N_NEAR:]

    for n, i in enumerate(pii):
        words = texts[i].split()
        at = rng.choice(np.arange(2, len(words) - 2), 3, replace=False)
        words[at[0]] = f"user{n}@mail.example"
        words[at[1]] = f"10.{n}.{n + 3}.{n + 7}"
        words[at[2]] = f"555-{100 + n}-{2000 + n}"
        texts[i] = " ".join(words)

    new = []  # (text, lang, source)
    new += [(texts[i], langs[i], sources[i]) for i in exact]
    new += [(f"{rng.choice(vocab)} {texts[i]}", langs[i], sources[i]) for i in near]
    for p in range(N_SPAN_PAIRS):
        span = " ".join(rng.choice(vocab, SPAN_WORDS))
        for lead in (3 + p, 12 + p):
            j = int(rng.integers(len(texts)))
            new.append((" ".join([*rng.choice(vocab, lead), span, *rng.choice(vocab, 120)]),
                        langs[j], sources[j]))

    ids += range(FIRST_NEW_ID, FIRST_NEW_ID + len(new))
    texts += [x[0] for x in new]
    langs += [x[1] for x in new]
    sources += [x[2] for x in new]
    os.makedirs(out, exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pc.utf8_length(pa.array(texts, pa.string())).cast(pa.int64()),
    }), os.path.join(out, "documents.parquet"))


if __name__ == "__main__":
    if sys.argv[1] == "--sample":
        sample(sys.argv[2], int(sys.argv[3]))
    else:
        generate(sys.argv[1])
