"""Seeded input generators for the benchmark.

Everything here is a pure function of ``seed`` and a size: the same
seed always yields byte-identical inputs, and the engine under test
only ever sees the files written here.

* ``write_tables`` writes the ten parquet tables the query registry
  reads (the TPC-H-ish star schema, ``events``, ``documents`` and
  ``embeddings``), with the column types and value domains of the
  repository's reference fixtures.
* ``write_osm`` writes an osmosis-layout OSM XML extract and returns
  its ground truth (row counts per written table, flagged street-type
  variants, valid nodes, cleaned street values).
"""

from __future__ import annotations

import datetime as dt
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "join hash row batch scan customer column filter small slow merge order "
    "vector line data table agg value key stream window spark a group part "
    "big sort query fast the"
).split()
LANGS = ("en", "fr", "es", "zh", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EVENT_TYPES = ("click", "purchase", "error", "signup", "view")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
P_ADJ = ("small", "red", "hot", "old", "large", "blue", "cold", "new")
P_NOUN = ("ring", "widget", "bolt", "plate", "rod", "gizmo", "gear", "anvil")
P_TYPES = ("MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EMB_DIM = 64


def _days(rng: np.random.Generator, n: int, lo: str, hi: str) -> np.ndarray:
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    return rng.integers(a, b + 1, n)


def _ms(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * 86_400_000, pa.timestamp("ms"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def doc_texts(rng: np.random.Generator, n: int) -> list[str]:
    """Bags of fixture-vocabulary tokens, 10..100 long; about 5% of
    them are an earlier text plus a trailing ``dup`` token (the
    near-duplicate families the dedup operators look for)."""
    lens = rng.integers(10, 101, n)
    toks = rng.integers(0, len(VOCAB), int(lens.sum()))
    dup = rng.random(n) < 0.05
    src = rng.integers(0, np.maximum(np.arange(n), 1))
    out: list[str] = []
    pos = 0
    for i in range(n):
        if dup[i] and i > 0:
            out.append(out[src[i]] + " dup")
        else:
            out.append(" ".join(VOCAB[t] for t in toks[pos : pos + lens[i]]))
        pos += lens[i]
    return out


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the registry's ten input tables at scale ``sf`` (0.01 is
    ~60k lineitem rows); returns {table: rows}.  Every table draws from
    its own random stream."""
    k = sf / 0.001
    n_cust, n_supp, n_part = int(150 * k), max(int(10 * k), 10), int(200 * k)
    n_ord, n_line, n_ev = int(1500 * k), int(6000 * k), int(1000 * k)
    n_users = max(int(15 * k), 15)
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    def region(rng):
        return {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}

    def nation(rng):
        return {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }

    def customer(rng):
        return {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
        }

    def supplier(rng):
        return {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }

    def part(rng):
        adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
        return {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array([f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in zip(adj, noun)]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(rng.choice(P_TYPES, n_part)),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array([round(900 + (i % 1000) / 10, 1) for i in range(n_part)]),
        }

    def order_days():
        return _days(np.random.default_rng([seed, 1, 5]), n_ord, "1995-01-01", "2001-08-01")

    def orders(rng):
        return {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(("F", "O", "P"), n_ord)),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
            "o_orderdate": _ms(order_days()),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
        }

    def lineitem(rng):
        lok = rng.integers(0, n_ord, n_line)
        return {
            "l_orderkey": pa.array(lok, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
            "l_discount": pa.array(np.round(rng.uniform(0, 0.10, n_line), 2)),
            "l_tax": pa.array(np.round(rng.uniform(0, 0.08, n_line), 2)),
            "l_returnflag": pa.array(rng.choice(("A", "N", "R"), n_line)),
            "l_linestatus": pa.array(rng.choice(("F", "O"), n_line)),
            "l_shipdate": _ms(order_days()[lok] + rng.integers(1, 96, n_line)),
        }

    def events(rng):
        # increasing ns timestamps over 30 days: TIMESTAMP(NANOS), the
        # layout sources/catalog.py normalizes on load
        start = np.datetime64("2024-01-01T00:00:00", "ns").astype(np.int64)
        gaps = rng.exponential(1.0, n_ev)
        span = 0.9995 * 30 * 86_400e9
        ts = start + (np.cumsum(gaps) / gaps.sum() * span).astype(np.int64)
        return {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("ns")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
            "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, n_ev)]),
        }

    def documents(rng):
        texts = doc_texts(rng, n_docs)
        return {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }

    def embeddings(rng):
        vecs = rng.standard_normal((n_emb, EMB_DIM))
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        return {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }

    builders = (region, nation, customer, supplier, part, orders, lineitem,
                events, documents, embeddings)
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for i, build in enumerate(builders):
        name = build.__name__
        table = pa.table(build(np.random.default_rng([seed, 1, i])))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


# ---------------------------------------------------------------------------
# OSM XML extract with ground truth

EXPECTED_STREET_TYPES = ("Street", "Road", "Avenue", "Boulevard", "Lane", "Drive")
STREET_MAPPING = {
    "St": "Street", "St.": "Street", "Ave": "Avenue", "Ave.": "Avenue",
    "Rd": "Road", "Rd.": "Road", "Blvd": "Boulevard", "Ln": "Lane", "Dr": "Drive",
}
STREET_BASES = (
    "Main", "Oak", "Elm", "Maple", "Cedar", "Lake", "Hill", "Park", "Washington",
    "Lincoln", "North Clark", "West Madison", "South State", "Old Mill", "Church",
    "River", "Sunset", "Highland", "Jackson", "Prairie",
)
STREET_SUFFIXES = (
    "Street", "Avenue", "Road", "Boulevard", "Lane", "Drive",  # expected
    "St", "St.", "Ave", "Ave.", "Rd", "Rd.", "Blvd", "Ln", "Dr",  # abbreviated
    "Court", "Place", "Way", "Parkway", "Terrace",  # unexpected, unmapped
)
SUFFIX_P = np.array([6] * 6 + [2] * 9 + [1] * 5, dtype=float)
SUFFIX_P /= SUFFIX_P.sum()
AMENITIES = ("cafe", "restaurant", "school", "bank", "pharmacy", "parking", "fuel")
NAMES = ("Corner Cafe", "Ben &amp; Jerry's", "First Bank", "Green Grocer", "City Hall")
USERS = 60


def _street_type(value: str) -> str:
    """etl.audit_street_types' street-type expression."""
    m = re.search(r"([^ ]+)$", re.sub(r"\.$", "", value))
    return m.group(1) if m else ""


def _cleaned(value: str) -> str:
    """etl.clean_street_names' last-token mapping rewrite."""
    m = re.search(r"([^ ]+)$", value)
    if m and m.group(1) in STREET_MAPPING:
        return value[: m.start(1)] + STREET_MAPPING[m.group(1)]
    return value


def write_osm(path: str, seed: int, n_nodes: int, n_ways: int) -> dict:
    """Write an osmosis-layout extract (one top-level element per line
    at indent 2; untagged nodes self-closing, tagged elements
    multi-line; ~1% relations) and return its ground truth."""
    rng = np.random.default_rng([seed, 2])
    truth = {
        "nodes": n_nodes, "nodes_tags": 0, "ways": n_ways, "ways_tags": 0,
        "ways_nodes": 0, "valid_true": 0, "valid_false": 0,
    }
    variants: set[tuple[str, str]] = set()
    streets: list[tuple[str, int, str]] = []  # (table, id, cleaned value)
    base_ts = dt.datetime(2010, 1, 1)

    def attrs(eid: int, anonymous: bool = False) -> str:
        ts = (base_ts + dt.timedelta(seconds=int(rng.integers(0, 3e8)))).strftime(
            "%Y-%m-%dT%H:%M:%SZ"
        )
        s = f'id="{eid}" version="{int(rng.integers(1, 6))}" timestamp="{ts}"'
        if not anonymous:
            u = int(rng.integers(0, USERS))
            s += f' uid="{1000 + u}" user="mapper{u}"'
        return s + f' changeset="{int(rng.integers(1, 10**7))}"'

    def street() -> str:
        return f"{STREET_BASES[rng.integers(len(STREET_BASES))]} " + str(
            rng.choice(STREET_SUFFIXES, p=SUFFIX_P)
        )

    def node_tags(eid: int) -> list[tuple[str, str]]:
        tags: list[tuple[str, str]] = []
        for _ in range(int(rng.integers(1, 4))):
            r = rng.random()
            if r < 0.4:
                v = street()
                tags.append(("addr:street", v))
                if _street_type(v) not in EXPECTED_STREET_TYPES:
                    variants.add((_street_type(v), v))
                streets.append(("nodes_tags", eid, _cleaned(v)))
            elif r < 0.6:
                tags.append(("addr:housenumber", str(int(rng.integers(1, 9999)))))
            elif r < 0.8:
                tags.append(("amenity", AMENITIES[rng.integers(len(AMENITIES))]))
            else:
                tags.append(("name", NAMES[rng.integers(len(NAMES))]))
        return tags

    def tag_lines(tags: list[tuple[str, str]]) -> str:
        return "".join(f'    <tag k="{k}" v="{v}"/>\n' for k, v in tags)

    lines = [
        "<?xml version='1.0' encoding='UTF-8'?>\n",
        '<osm version="0.6" generator="perfbench">\n',
        '  <bounds minlat="41.80" minlon="-87.70" maxlat="42.00" maxlon="-87.50"/>\n',
    ]
    node_ids = 1_000_000 + np.cumsum(rng.integers(1, 20, n_nodes))
    lat = rng.uniform(41.8, 42.0, n_nodes)
    lon = rng.uniform(-87.7, -87.5, n_nodes)
    tagged = rng.random(n_nodes) < 0.3
    anonymous = rng.random(n_nodes) < 0.01
    for i in range(n_nodes):
        eid = int(node_ids[i])
        head = f'  <node {attrs(eid, bool(anonymous[i]))} lat="{lat[i]:.7f}" lon="{lon[i]:.7f}"'
        truth["valid_false" if anonymous[i] else "valid_true"] += 1
        if tagged[i]:
            tags = node_tags(eid)
            truth["nodes_tags"] += len(tags)
            lines.append(head + ">\n" + tag_lines(tags) + "  </node>\n")
        else:
            lines.append(head + "/>\n")
    way_ids = 50_000_000 + np.cumsum(rng.integers(1, 5, n_ways))
    for i in range(n_ways):
        eid = int(way_ids[i])
        refs = rng.choice(node_ids, int(rng.integers(2, 11)))
        tags = [("highway", str(rng.choice(("residential", "primary", "service"))))]
        if rng.random() < 0.5:
            v = street()
            tags.append(("name", v))
            if rng.random() < 0.5:
                tags.append(("addr:street", v))
                streets.append(("ways_tags", eid, _cleaned(v)))
        truth["ways_nodes"] += len(refs)
        truth["ways_tags"] += len(tags)
        nds = "".join(f'    <nd ref="{int(r)}"/>\n' for r in refs)
        lines.append(f"  <way {attrs(eid)}>\n{nds}{tag_lines(tags)}  </way>\n")
    for i in range(max(1, n_ways // 100)):
        members = "".join(
            f'    <member type="way" ref="{int(r)}" role="{role}"/>\n'
            for r, role in zip(rng.choice(way_ids, 3), ("outer", "inner", "inner"))
        )
        lines.append(
            f"  <relation {attrs(90_000_000 + i)}>\n{members}"
            '    <tag k="type" v="multipolygon"/>\n  </relation>\n'
        )
    lines.append("</osm>\n")
    with open(path, "w") as fh:
        fh.writelines(lines)
    truth["variants"] = len(variants)
    truth["streets"] = sorted(streets)
    return truth
