"""Output checks, run after the timed section. Each returns a list of
failure descriptions; every entry counts as one failed operation.

  osm_etl        table and per-type tag counts against the generator's
                 expected.json; Q1-Q5 against DuckDB over the written parquet
  corpus_stages  each stage's row count and order-independent content
                 digest, the side checks' digests, and a sorted-line digest
                 of the JSONL, against corpus_golden.json (one entry per
                 seed variant); every stage (or its side check) must change
                 its input
"""
import glob
import hashlib
import json
import os

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
GOLDEN = os.path.join(HERE, "corpus_golden.json")

OSM_SQL = {
    "q1": """SELECT type, Count FROM (
               SELECT type, COUNT(*) AS Count FROM ways_tags GROUP BY type
               UNION ALL
               SELECT type, COUNT(*) AS Count FROM node_tags GROUP BY type)
             ORDER BY Count DESC, type""",
    "q2": "SELECT type, COUNT(*) AS Count FROM node_tags GROUP BY type ORDER BY Count DESC, type",
    "q3": """SELECT node.id, node.lat, node.lon, node_tags.type
             FROM node JOIN node_tags ON node.id = node_tags.id
             WHERE node_tags.type = 'fire_hydrant' ORDER BY node.id""",
    "q4": """SELECT "user", Count FROM (
               SELECT "user", COUNT(*) AS Count FROM ways GROUP BY "user"
               UNION
               SELECT "user", COUNT(*) AS Count FROM node GROUP BY "user")
             ORDER BY Count DESC, "user" LIMIT 10""",
    "q5_oldest": "SELECT timestamp FROM node ORDER BY timestamp LIMIT 1",
    "q5_newest": "SELECT timestamp FROM node ORDER BY timestamp DESC LIMIT 1",
}
OSM_VIEWS = {"node": "nodes", "node_tags": "nodes_tags", "ways": "ways",
             "ways_nodes": "ways_nodes", "ways_tags": "ways_tags"}


def run(workload, work, inputs, record_golden=False):
    if workload == "osm_etl":
        return check_osm(work, inputs)
    return check_corpus(work, record_golden)


def check_osm(work, inputs):
    bad = []
    with open(os.path.join(inputs, "expected.json")) as f:
        exp = json.load(f)
    with open(os.path.join(work, "osm_answers.json")) as f:
        got = json.load(f)
    con = duckdb.connect()
    for view, table in OSM_VIEWS.items():
        con.execute(f"CREATE VIEW {view} AS SELECT * FROM "
                    f"read_parquet('{work}/osm_tables/{table}/*.parquet')")
        n = con.execute(f"SELECT COUNT(*) FROM {view}").fetchone()[0]
        if n != exp["rows"][table]:
            bad.append(f"osm {table}: {n} rows, generator wrote {exp['rows'][table]}")
    for view, table in (("node_tags", "nodes_tags"), ("ways_tags", "ways_tags")):
        types = dict(con.execute(f"SELECT type, COUNT(*) FROM {view} GROUP BY type").fetchall())
        if types != exp["tag_types"][table]:
            bad.append(f"osm {table} tag types: {types} != {exp['tag_types'][table]}")
    for key, sql in OSM_SQL.items():
        want = [list(r) for r in con.execute(sql).fetchall()]
        if got.get(key) != want:
            bad.append(f"osm {key}: spark={str(got.get(key))[:200]} duckdb={str(want)[:200]}")
    return bad


def parquet_digest(con, path):
    """[rows, sha256 of the sorted per-row md5s] of a parquet directory."""
    if not glob.glob(os.path.join(path, "*.parquet")):
        return None
    rows, hashes = con.execute(
        "SELECT COUNT(*), string_agg(h, '' ORDER BY h) FROM "
        f"(SELECT md5(CAST(t AS VARCHAR)) AS h FROM read_parquet('{path}/*.parquet') t)").fetchone()
    return [rows, hashlib.sha256((hashes or "").encode()).hexdigest()]


def jsonl_digest(path):
    lines = []
    for p in sorted(glob.glob(os.path.join(path, "*.txt"))):
        with open(p, encoding="utf-8") as f:
            lines += f.read().splitlines()
    lines.sort()
    return len(lines), hashlib.sha256("\n".join(lines).encode()).hexdigest()


def check_corpus(work, record_golden):
    with open(os.path.join(work, "corpus_outputs.json")) as f:
        out = json.load(f)
    con = duckdb.connect()
    stages = {name: parquet_digest(con, d) for name, d in out["stages"]}
    for name, _, d in out["side_checks"]:
        stages[f"side.{name}"] = parquet_digest(con, d)
    lines, digest = jsonl_digest(out["jsonl"])
    # every stage must change its input, so that a stage that stops working
    # shows in its digest; the stages README order leaves idle are instead
    # checked on the earlier output their side check reads
    idle = {name: from_ for name, from_, _ in out["side_checks"]}
    names = [n for n, _ in out["stages"]]
    bad = [f"corpus stage {n}: output equals its input {stages[prev]}"
           for prev, n in zip(names, names[1:]) if n not in idle and stages[n] == stages[prev]]
    bad += [f"corpus side check {n}: output equals its input {stages[f]}"
            for n, f in idle.items() if stages[f"side.{n}"] == stages[f]]
    got = {"stages": stages, "jsonl_lines": lines, "jsonl_sha256": digest}
    golden = {}
    if os.path.exists(GOLDEN):
        with open(GOLDEN) as f:
            golden = json.load(f)
    key = str(out["variant"])
    if record_golden:
        if bad:
            return bad
        golden[key] = got
        with open(GOLDEN, "w") as f:
            json.dump(golden, f, indent=1, sort_keys=True)
            f.write("\n")
        return []
    want = golden.get(key)
    if want is None:
        return bad + [f"corpus: no golden value for variant {key}"]
    bad += [f"corpus stage {s}: {stages.get(s)}, golden {w}"
            for s, w in want["stages"].items() if stages.get(s) != w]
    bad += [f"corpus stage {s}: not in the golden value" for s in stages if s not in want["stages"]]
    if (lines, digest) != (want["jsonl_lines"], want["jsonl_sha256"]):
        bad.append(f"corpus jsonl: {lines} lines {digest[:12]}, golden "
                   f"{want['jsonl_lines']} lines {want['jsonl_sha256'][:12]}")
    return bad
