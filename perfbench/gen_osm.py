"""Seeded OSM XML generator for the osm_etl workload.

Writes <out_dir>/map.osm and, next to it, <out_dir>/expected.json with the
row count of each of the five output tables and the per-type tag counts the
ETL must produce. The program under test receives only map.osm.

The tag catalogue covers every dirty value of FIXTURES.md section 3 (street
suffixes, phones, cities, postcodes, states), problem-character keys (which
the ETL drops), colon keys of one, two and three segments, upper-case colon
keys (type "regular"), fire hydrants (Q3) and multi-byte names and users.

Usage: python3 gen_osm.py <out_dir> <seed> <n_nodes>
"""
import json
import os
import random
import re
import sys
from xml.sax.saxutils import quoteattr

PROBLEM = re.compile(r"[=+/&<>;'\"?%#$@,. \t\r\n]")
LOWER_COLON = re.compile(r"^([a-z]|_)+:([a-z]|_)+")

STREETS = ["Main St", "Main St.", "N Ave", "Oak Blvd", "Elm Rd.", "Elm Rd", "lower street",
           "Pecan Trl", "Fox Ln", "Sky Dr", "Quiet Cv", "Kings Ct", "Deer Cc", "eagle pass",
           "Park Terrance", "Basket Flower Bend", "Wilbarger Street", "Gregg Lane"]
PHONES = ["+1 (512) 281-5440", "512.281.5440", "(512) 2815440", "15122815440", "512-281-5440"]
CITIES = ["Elgin, TX", "Pflugerville, TX", "Round Rock", "Austin", "Elgin", "Manor"]
POSTCODES = ["78621-1242", "TX 78621", "78621", "78653", "78660-3302"]
STATES = ["TX", "Texas", "tx"]
NAMES = ["Café Zürich", "東京タワー", "Señor Frog's", "Ελληνικό", "Bäckerei & Co",
         "Dollar General", "H-E-B", "<Quoted> \"Place\"", "Москва", "Elgin Depot"]
USERS = ["yurasi", "hydrant_bot", "patisilva_atxbuildings", "Zoë", "José Ñúñez", "田中太郎",
         "Müller", "AustinMapper", "woodpeck_fixbot", "Łukasz"] + [f"mapper{i}" for i in range(190)]

# (key, value chooser). Keys with problem characters are dropped by the ETL.
NODE_TAGS = [
    ("addr:street", STREETS), ("addr:postcode", POSTCODES), ("addr:city", CITIES),
    ("addr:state", STATES), ("phone", PHONES), ("addr:housenumber", ["101", "12B", "4500", "7"]),
    ("gnis:county_id", ["021", "453"]), ("gnis:feature_id", ["1374658", "2410414"]),
    ("tiger:name_base_1", ["FM 1100", "County Road 95"]), ("name", NAMES),
    ("name:en", NAMES), ("amenity", ["cafe", "school", "fuel", "restaurant"]),
    ("highway", ["motorway_junction", "traffic_signals", "stop"]), ("exit_to", ["TX 45 west"]),
    ("addr:street:name", ["Main"]), ("NHD:FCode", ["46006"]), ("FIXME:note", ["check"]),
    ("bad=key", ["x"]), ("two words", ["y"]), ("fee$", ["2"]), ("a.b", ["z"]),
]
WAY_TAGS = [
    ("highway", ["residential", "service", "primary"]), ("name", NAMES),
    ("addr:street", STREETS), ("addr:city", CITIES), ("building", ["yes", "house"]),
    ("tiger:county", ["Bastrop, TX", "Travis, TX"]), ("tiger:cfcc", ["A41"]),
    ("tiger:name_base", ["Main", "Oak"]), ("source", ["Bing"]), ("oneway", ["yes"]),
    ("bad=key", ["w"]),
]


def tag_type(k):
    return k.split(":", 1)[0] if LOWER_COLON.match(k) else "regular"


def stamp(rng):
    return (f"{rng.randint(2007, 2020)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
            f"T{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}Z")


def meta(rng):
    uid = min(int(rng.paretovariate(1.2)), len(USERS)) - 1
    return (f'version="{rng.randint(1, 80)}" timestamp="{stamp(rng)}" '
            f'changeset="{rng.randint(1, 45_000_000)}" uid="{uid + 1000}" user={quoteattr(USERS[uid])}')


def generate(out, seed, n_nodes):
    rng = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    counts = {t: 0 for t in ["nodes", "nodes_tags", "ways", "ways_nodes", "ways_tags"]}
    types = {"nodes_tags": {}, "ways_tags": {}}

    def tags(table, catalogue, k):
        lines = []
        for key, values in rng.sample(catalogue, k):
            lines.append(f"    <tag k={quoteattr(key)} v={quoteattr(rng.choice(values))}/>")
            if not PROBLEM.search(key):
                counts[table] += 1
                t = tag_type(key)
                types[table][t] = types[table].get(t, 0) + 1
        return lines

    node_ids, nid = [], 29_591_541
    with open(os.path.join(out, "map.osm"), "w", encoding="utf-8") as f:
        f.write('<?xml version="1.0" encoding="UTF-8"?>\n<osm version="0.6" generator="perfbench">\n'
                '  <bounds minlat="30.2517" minlon="-97.6293" maxlat="30.5158" maxlon="-97.0903"/>\n')
        for _ in range(n_nodes):
            nid += rng.randint(1, 40)
            node_ids.append(nid)
            head = (f'  <node id="{nid}" lat="{rng.uniform(30.2517, 30.5158):.7f}" '
                    f'lon="{rng.uniform(-97.6293, -97.0903):.7f}" {meta(rng)}')
            r = rng.random()
            if r < 0.01:
                body = tags("nodes_tags", [("emergency", ["fire_hydrant"]),
                                           ("fire_hydrant:type", ["pillar", "underground"])], 2)
            elif r < 0.30:
                body = tags("nodes_tags", NODE_TAGS, rng.randint(1, 4))
            else:
                body = []
            f.write(head + ("/>\n" if not body else ">\n" + "\n".join(body) + "\n  </node>\n"))
            counts["nodes"] += 1
        wid = 339_964_400
        for _ in range(n_nodes * 3 // 20):
            wid += rng.randint(1, 40)
            lines = [f'  <way id="{wid}" {meta(rng)}>']
            lines += tags("ways_tags", WAY_TAGS, rng.randint(1, 4))
            k = rng.randint(2, 12)
            lines += [f'    <nd ref="{rng.choice(node_ids)}"/>' for _ in range(k)]
            counts["ways_nodes"] += k
            counts["ways"] += 1
            f.write("\n".join(lines) + "\n  </way>\n")
        f.write("</osm>\n")
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump({"rows": counts, "tag_types": types}, f, sort_keys=True)


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]))
