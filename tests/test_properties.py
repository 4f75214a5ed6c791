"""Property-based tests (hypothesis) — SURVEY.md §5.2 layer 4.

Each property generates many logical examples but executes ONE Spark
job per hypothesis example-set (examples ride in a single DataFrame),
keeping the suite fast. Python recomputation is the oracle.
"""

import re

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from pyspark.sql import functions as F

from open_street_map_data_wrangling_spark.operators.scale import salted_count
from open_street_map_data_wrangling_spark.plans.pipeline import build_pipeline

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_spark = None


def _get_spark():
    # hypothesis can't take the pytest fixture per-example; cache one
    global _spark
    if _spark is None:
        from open_street_map_data_wrangling_spark.session import get_spark

        _spark = get_spark("osmdw-props", master="local[2]", shuffle_partitions=2)
    return _spark


@given(keys=st.lists(st.integers(min_value=0, max_value=5), min_size=1, max_size=200))
@settings(**_SETTINGS)
def test_salted_count_equals_plain_count(keys):
    """Salted two-phase aggregation ≡ plain groupBy for any key
    distribution, including fully skewed (all rows one key)."""
    spark = _get_spark()
    df = spark.createDataFrame([(k,) for k in keys], "k int")
    got = {r.k: r.cnt for r in salted_count(df, "k", n_salts=4).collect()}
    exp = {}
    for k in keys:
        exp[k] = exp.get(k, 0) + 1
    assert got == exp


@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["a", "b", "c"]), st.floats(0, 100, width=32)),
        min_size=1,
        max_size=100,
    ),
    thresh=st.floats(0, 100),
)
@settings(**_SETTINGS)
def test_pipeline_matches_python(rows, thresh):
    """$match/$group/$sort pipeline ≡ naive Python evaluation."""
    spark = _get_spark()
    df = spark.createDataFrame([(k, float(v)) for k, v in rows], "k string, v double")
    out = build_pipeline(
        df,
        [
            {"$match": {"v": {"$gte": thresh}}},
            {"$group": {"_id": "$k", "n": {"$sum": 1}}},
            {"$sort": {"n": -1, "_id": 1}},
        ],
    ).collect()
    exp = {}
    for k, v in rows:
        if float(v) >= thresh:
            exp[k] = exp.get(k, 0) + 1
    assert {r._id: r.n for r in out} == exp
    ns = [r.n for r in out]
    assert ns == sorted(ns, reverse=True)


@given(
    gaps_min=st.lists(st.integers(min_value=1, max_value=120), min_size=1, max_size=50)
)
@settings(**_SETTINGS)
def test_sessionize_session_count(gaps_min):
    """For one user with inter-event gaps g_i (minutes), the 30-min
    sessionizer must produce exactly 1 + |{g_i > 30}| sessions."""
    spark = _get_spark()
    ts, rows = 0, []
    for i, g in enumerate([0] + gaps_min):
        ts += g * 60
        rows.append((i, ts))
    df = spark.createDataFrame(rows, "event_id long, ts_s long").select(
        "event_id", F.timestamp_seconds("ts_s").alias("ts"), F.lit(1).alias("user_id")
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros("ts")
    flags = df.select(
        F.when(
            (ts_us - F.lag(ts_us).over(w) > 30 * 60 * 1_000_000)
            | F.lag("ts").over(w).isNull(),
            1,
        ).otherwise(0).alias("f")
    )
    got = flags.agg(F.sum("f")).collect()[0][0]
    assert got == 1 + sum(1 for g in gaps_min if g > 30)


@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(whitelist_categories=("Ll", "Nd"), max_codepoint=127)
            | st.sampled_from(" -()."),
            min_size=0,
            max_size=30,
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(**_SETTINGS)
def test_postcode_extraction_matches_re(texts):
    """regexp_extract('[0-9]{5}') ≡ Python re on arbitrary strings."""
    spark = _get_spark()
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, s string")
    got = {
        r.i: r.pc
        for r in df.select(
            "i", F.nullif(F.regexp_extract("s", r"([0-9]{5})", 1), F.lit("")).alias("pc")
        ).collect()
    }
    for i, t in enumerate(texts):
        m = re.search(r"([0-9]{5})", t)
        assert got[i] == (m.group(1) if m else None)


@given(
    vals=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=32),
        min_size=1,
        max_size=100,
    )
)
@settings(**_SETTINGS)
def test_running_total_prefix_sums(vals):
    """Window running total ≡ Python prefix sums (same fold order)."""
    spark = _get_spark()
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "i long, v double"
    )
    from pyspark.sql import Window as W

    w = W.orderBy("i").rowsBetween(W.unboundedPreceding, W.currentRow)
    got = [r.rt for r in df.select(F.sum("v").over(w).alias("rt")).orderBy("i").collect()]
    acc, exp = 0.0, []
    for v in vals:
        acc += float(v)
        exp.append(acc)
    assert all(abs(g - e) < 1e-6 * max(1.0, abs(e)) for g, e in zip(got, exp))


@given(
    texts=st.lists(
        st.lists(
            st.text(alphabet="abc", min_size=1, max_size=3), min_size=1, max_size=12
        ).map(lambda toks: " ".join(toks)),
        min_size=1,
        max_size=40,
    )
)
@settings(**_SETTINGS)
def test_shingles_match_python(texts):
    """shingles_expr ≡ Python reference shingler for arbitrary token
    sequences (incl. repeats and <3-token fallback)."""
    from open_street_map_data_wrangling_spark.functions.textfeat import shingles_expr

    spark = _get_spark()
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, s string")
    got = {r.i: r.sh for r in df.select("i", shingles_expr("s").alias("sh")).collect()}
    for i, t in enumerate(texts):
        toks = t.split(" ")
        if len(toks) >= 3:
            exp, seen = [], set()
            for j in range(len(toks) - 2):
                sh = " ".join(toks[j : j + 3])
                if sh not in seen:
                    seen.add(sh)
                    exp.append(sh)
        else:
            exp = [t]
        assert got[i] == exp


@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),      # user_id
            st.integers(min_value=0, max_value=1000),   # ts (distinct-ified below)
            st.sampled_from(["click", "purchase"]),
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(**_SETTINGS)
def test_asof_join_matches_python(events):
    """The union+window as-of join must agree with the obvious per-row
    reference: for every purchase, the click with the greatest ts <=
    purchase ts for that user (ties impossible — ts de-duplicated per
    user below), else null."""
    spark = _get_spark()
    from pyspark.sql import Window as W

    # unique (user, ts): mirror the fixture guarantee the operator documents
    seen, rows = set(), []
    for eid, (u, t, k) in enumerate(events):
        if (u, t) in seen:
            continue
        seen.add((u, t))
        rows.append((eid, u, t, k))
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, t long, event_type string"
    )

    clicks = df.filter(F.col("event_type") == "click").select(
        "user_id", "t", F.lit(0).alias("tag"),
        F.col("event_id").alias("click_id"),
        F.lit(None).cast("bigint").alias("purchase_id"),
    )
    purchases = df.filter(F.col("event_type") == "purchase").select(
        "user_id", "t", F.lit(1).alias("tag"),
        F.lit(None).cast("bigint").alias("click_id"),
        F.col("event_id").alias("purchase_id"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("t", "tag")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    got = {
        r["purchase_id"]: r["click_id"]
        for r in clicks.unionByName(purchases)
        .select(
            "purchase_id",
            F.last("click_id", ignorenulls=True).over(w).alias("click_id"),
            "tag",
        )
        .filter(F.col("tag") == 1)
        .collect()
    }

    expected = {}
    for eid, u, t, k in rows:
        if k != "purchase":
            continue
        cands = [
            (t2, e2) for e2, u2, t2, k2 in rows
            if k2 == "click" and u2 == u and t2 <= t
        ]
        expected[eid] = max(cands)[1] if cands else None
    assert got == expected


@given(
    assign=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),   # bi
            st.integers(min_value=0, max_value=3),   # bv
        ),
        min_size=1,
        max_size=60,
    ),
    cap=st.integers(min_value=2, max_value=6),
)
@settings(**_SETTINGS)
def test_all_bucket_pairs_equals_bruteforce(assign, cap):
    """_all_bucket_pairs ≡ brute-force within-bucket pair enumeration
    for ANY bucket layout and cap — the over-cap self-join fallback
    and the bounded bucket aggregate must tile the pair space exactly
    (no pair lost at the cap boundary, none duplicated across the
    branches)."""
    spark = _get_spark()
    from open_street_map_data_wrangling_spark.operators.dedup import (
        _all_bucket_pairs,
    )

    rows = [(i, bi, bv) for i, (bi, bv) in enumerate(assign)]
    expected = set()
    for i, (bi, bv) in enumerate(assign):
        for j, (bj, bvj) in enumerate(assign):
            if i < j and (bi, bv) == (bj, bvj):
                expected.add((i, j))
    df = spark.createDataFrame(rows, "doc_id long, bi int, bv long").select(
        "bi", "bv", F.struct("doc_id", F.col("bv").alias("fingerprint")).alias("m")
    )
    got = {
        (r["a"]["doc_id"], r["b"]["doc_id"])
        for r in _all_bucket_pairs(df, cap=cap).collect()
    }
    assert got == expected


@given(
    assign=st.lists(
        st.integers(min_value=0, max_value=3),  # bv; single band
        min_size=1,
        max_size=60,
    ),
    cap=st.integers(min_value=2, max_value=6),
)
@settings(**_SETTINGS)
def test_capped_band_pairs_drop_semantics(assign, cap):
    """_capped_band_pairs ≡ brute-force pairs over buckets of size
    2..cap, with over-cap buckets dropped entirely — for any layout
    and cap (the documented LSH hot-bucket semantics, mirrored in the
    DuckDB oracles)."""
    spark = _get_spark()
    from collections import Counter

    from open_street_map_data_wrangling_spark.operators.dedup import (
        _capped_band_pairs,
    )

    sizes = Counter(assign)
    expected = {
        (i, j)
        for i in range(len(assign))
        for j in range(i + 1, len(assign))
        if assign[i] == assign[j] and 2 <= sizes[assign[i]] <= cap
    }
    df = spark.createDataFrame(
        [(i, 0, str(bv)) for i, bv in enumerate(assign)],
        "doc_id long, bi int, bv string",
    )
    got = {
        (r["doc_a"], r["doc_b"]) for r in _capped_band_pairs(df, cap=cap).collect()
    }
    assert got == expected


@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=65535),
            st.integers(min_value=0, max_value=65535),
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(**_SETTINGS)
def test_zvalue_interleave_roundtrip(pts):
    """Morton encode over arbitrary 16-bit pairs decodes back to the
    inputs — the bit-spread is a bijection, not just correct on the
    corner set tests/test_layout.py pins."""
    from open_street_map_data_wrangling_spark.operators.layout import with_zvalue

    spark = _get_spark()
    df = spark.createDataFrame(pts, "qx bigint, qy bigint")
    for r in with_zvalue(df, "qx", "qy").collect():
        dx = sum(((r["z"] >> (2 * b)) & 1) << b for b in range(16))
        dy = sum(((r["z"] >> (2 * b + 1)) & 1) << b for b in range(16))
        assert (dx, dy) == (r["qx"], r["qy"])


@given(
    snap=st.dictionaries(
        st.integers(min_value=0, max_value=8),
        st.floats(0, 100, width=32),
        max_size=6,
    ),
    delta=st.dictionaries(
        st.integers(min_value=0, max_value=12),
        st.floats(0, 100, width=32),
        max_size=6,
    ),
)
@settings(**_SETTINGS)
def test_scd2_merge_matches_python(snap, delta):
    """SCD2 merge ≡ naive Python for arbitrary snapshots and deltas:
    changed keys close out + reappear at the new generation, no-ops
    pass through, inserts arrive current, exactly one current row
    per surviving key."""
    from open_street_map_data_wrangling_spark.operators.cdc import scd2_merge

    spark = _get_spark()
    snap_df = spark.createDataFrame(
        [(k, float(v), "S") for k, v in snap.items()] or [(None, None, None)],
        "k long, bal double, seg string",
    ).filter("k IS NOT NULL")
    delta_df = spark.createDataFrame(
        [(k, float(v), "S") for k, v in delta.items()] or [(None, None, None)],
        "k long, bal double, seg string",
    ).filter("k IS NOT NULL")
    got = {
        (r["k"], r["bal"], r["version"], r["is_current"])
        for r in scd2_merge(snap_df, delta_df, gen=7).collect()
    }
    exp = set()
    for k, v in snap.items():
        v = float(np_f32(v))
        if k in delta and float(np_f32(delta[k])) != v:
            exp.add((k, v, 0, False))
            exp.add((k, float(np_f32(delta[k])), 7, True))
        else:
            exp.add((k, v, 0, True))
    for k, v in delta.items():
        if k not in snap:
            exp.add((k, float(np_f32(v)), 7, True))
    assert got == exp
    # exactly one current row per key
    cur = [t for t in got if t[3]]
    assert len(cur) == len({t[0] for t in cur})


def np_f32(x: float) -> float:
    import numpy as np

    return float(np.float32(x))


@given(
    points=st.lists(st.floats(0, 500, width=32), min_size=1, max_size=80),
    intervals=st.lists(
        st.tuples(st.integers(0, 24), st.integers(1, 20)), min_size=1, max_size=10
    ),
)
@settings(**_SETTINGS)
def test_interval_bucket_join_equals_nlj(points, intervals):
    """The bucketized equi rewrite ≡ the direct non-equi join for any
    points and any intervals no longer than the bucket width."""
    spark = _get_spark()
    B = 20.0
    iv = [
        (f"i{n}", k * B, k * B + min(length, 20)) for n, (k, length) in enumerate(intervals)
    ]
    pts = spark.createDataFrame([(float(p),) for p in points], "value double")
    ivd = spark.createDataFrame(iv, "label string, lo double, hi double")
    bucketed = ivd.selectExpr(
        "label", "lo", "hi",
        "explode(sequence(CAST(floor(lo / 20.0) AS INT), CAST(floor(hi / 20.0) AS INT))) AS bk",
    )
    got = sorted(
        (r["label"], r["value"])
        for r in pts.selectExpr("value", "CAST(floor(value / 20.0) AS INT) AS bk")
        .join(bucketed, "bk")
        .filter("value >= lo AND value < hi")
        .select("label", "value")
        .collect()
    )
    exp = sorted(
        (lbl, float(np_f32(p)))
        for p in points
        for (lbl, lo, hi) in iv
        if lo <= float(np_f32(p)) < hi
    )
    assert got == exp


@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=120), min_size=1, max_size=20
    )
)
@settings(**_SETTINGS)
def test_chunk_overlap_matches_python(texts):
    """Sliding-window chunking ≡ a direct Python reconstruction for
    arbitrary (including empty and whitespace-heavy) texts: same
    chunk indices, token counts, and md5s."""
    import hashlib

    spark = _get_spark()
    from open_street_map_data_wrangling_spark.plans import load_all_queries

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    # drive the operator body directly over the synthetic frame
    from open_street_map_data_wrangling_spark.operators import text as text_ops

    out = (
        docs.selectExpr("doc_id", "split(text, ' ') AS ts")
        .selectExpr(
            "doc_id", "ts", "posexplode(sequence(1, size(ts), 16)) AS (cidx, st)"
        )
        .selectExpr(
            "doc_id",
            "CAST(cidx AS INT) AS chunk_idx",
            "CAST(size(slice(ts, st, 32)) AS BIGINT) AS n_chunk_toks",
            "md5(array_join(slice(ts, st, 32), ' ')) AS chunk_md5",
        )
    )
    got = {
        (r["doc_id"], r["chunk_idx"]): (r["n_chunk_toks"], r["chunk_md5"])
        for r in out.collect()
    }
    exp = {}
    for doc_id, t in enumerate(texts):
        toks = t.split(" ")
        for cidx, st_ in enumerate(range(1, len(toks) + 1, 16)):
            chunk = toks[st_ - 1 : st_ - 1 + 32]
            exp[(doc_id, cidx)] = (
                len(chunk),
                hashlib.md5(" ".join(chunk).encode()).hexdigest(),
            )
    assert got == exp


@given(data=st.lists(st.tuples(st.integers(0, 10_000), st.integers(1, 500)),
                     min_size=1, max_size=60, unique_by=lambda t: t[0]))
@settings(**_SETTINGS)
def test_weighted_sample_rule_matches_python(data):
    """The content-hash weighted-sampling predicate ≡ its Python
    reconstruction (same md5 prefix, same scaling) for arbitrary ids
    and weights — the determinism claim behind q_weighted_sample."""
    import hashlib

    spark = _get_spark()
    df = spark.createDataFrame(data, "doc_id long, n_chars long")
    mx = max(w for _, w in data)
    got = {
        r["doc_id"]
        for r in df.crossJoin(
            df.agg(F.max("n_chars").alias("__mx"))
        )
        .filter(
            (
                F.conv(
                    F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
                )
                .cast("bigint")
                .cast("double")
                / F.lit(4294967296.0)
            )
            * F.col("__mx")
            < F.col("n_chars")
        )
        .select("doc_id")
        .collect()
    }
    exp = set()
    for doc_id, w in data:
        u = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) / 4294967296.0
        if u * mx < w:
            exp.add(doc_id)
    assert got == exp


def _tagged_osm_parse(spark, tmp_path):
    from open_street_map_data_wrangling_spark.sources.osm_xml import parse_osm_tagged
    from tests.test_osm_xml import _make_xml

    path = tmp_path / "extract.osm"
    path.write_text(_make_xml())
    return parse_osm_tagged(spark, str(path))


def _registry_stage(name):
    def run(spark, tmp_path):
        from open_street_map_data_wrangling_spark.plans import load_all_queries

        return load_all_queries()[name].spark(spark, "/root/testdata/sf0.001")

    return run


@pytest.mark.parametrize(
    "stage",
    [
        pytest.param(_registry_stage("q_compression_ratio"), id="q_compression_ratio"),
        pytest.param(_registry_stage("q_mm_extract"), id="q_mm_extract"),
        pytest.param(_tagged_osm_parse, id="osm_tagged_parse"),
    ],
)
def test_compression_ratio_is_batch_size_independent(spark, tmp_path, stage):
    """Arrow batch shape must not leak into the results of a Python
    row-seam stage (scale.map_rows): the zlib scores, the media
    features and the tagged OSM parse are identical under a
    pathologically small maxRecordsPerBatch (each stage's per-row
    generator must be row-independent)."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    run = lambda: sorted(map(tuple, stage(spark, tmp_path).collect()), key=repr)
    try:
        base = run()
        spark.conf.set(key, "7")
        small = run()
    finally:
        spark.conf.set(key, old)
    assert base and base == small


@given(ids=st.lists(st.integers(0, 10**9), min_size=1, max_size=80, unique=True))
@settings(**_SETTINGS)
def test_split_rule_matches_python(ids):
    """The md5 train/test split rule ≡ its Python reconstruction for
    arbitrary doc ids — the reproducibility claim behind q_split,
    q_stratified_sample, and the leakage-safe split."""
    import hashlib

    spark = _get_spark()
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {
        r["doc_id"]: r["split"]
        for r in df.selectExpr(
            "doc_id",
            "CASE WHEN substring(md5(CAST(doc_id AS STRING)), 1, 1) <= 'b' "
            "THEN 'train' ELSE 'test' END AS split",
        ).collect()
    }
    for i in ids:
        want = "train" if hashlib.md5(str(i).encode()).hexdigest()[0] <= "b" else "test"
        assert got[i] == want


# ---- round-6 sketch/geo primitives ------------------------------------


def _py_spread32(x: int) -> int:
    """Pure-Python mirror of geo._SPREAD32 — the reference for the
    bijection property."""
    from open_street_map_data_wrangling_spark.operators.geo import _SPREAD32

    for n, mask in _SPREAD32:
        x = (x | (x << n)) & mask
    return x


@given(a=st.integers(min_value=0, max_value=(1 << 20) - 1),
       b=st.integers(min_value=0, max_value=(1 << 20) - 1))
@settings(max_examples=300, deadline=None)
def test_spread32_interleave_is_injective_and_invertible(a, b):
    """The 32-bit Morton spread chain must place input bit i at output
    bit 2i exactly (so the lat/lon interleave is a bijection and
    geohash prefixes nest)."""
    sa = _py_spread32(a)
    assert sa == sum(((a >> i) & 1) << (2 * i) for i in range(20))
    g = _py_spread32(a) | (_py_spread32(b) << 1)
    back_a = sum((((g >> (2 * i)) & 1) << i) for i in range(20))
    back_b = sum((((g >> (2 * i + 1)) & 1) << i) for i in range(20))
    assert (back_a, back_b) == (a, b)


@given(dim=st.lists(st.integers(min_value=0, max_value=10**9),
                    min_size=1, max_size=60, unique=True),
       probe=st.lists(st.integers(min_value=0, max_value=10**9),
                      min_size=1, max_size=60, unique=True))
@settings(max_examples=25, deadline=None)
def test_bloom_oracle_has_no_false_negatives_on_random_keys(dim, probe):
    """Structural Bloom guarantee, checked on arbitrary key sets via
    the ORACLE SQL (DuckDB is milliseconds per example, so hypothesis
    can drive the exact algorithm both engines share): every probe
    key that IS in the dim set must be a candidate."""
    import duckdb

    from open_street_map_data_wrangling_spark.operators.sketches import (
        _BLOOM_K,
        _BLOOM_WORD,
        _POS_DUCK,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE dim AS SELECT unnest(?::BIGINT[]) AS k", [dim]
    )
    con.execute(
        "CREATE TABLE probe AS SELECT unnest(?::BIGINT[]) AS k", [probe]
    )
    pos_cols = ", ".join(
        _POS_DUCK.format(i=i, key="CAST(k AS VARCHAR)") + f" AS p{i}"
        for i in range(_BLOOM_K)
    )
    bit_tests = " AND ".join(
        f"coalesce((w{i}.mask >> CAST(p.p{i} % {_BLOOM_WORD} AS INT)) & 1, 0)"
        " = 1"
        for i in range(_BLOOM_K)
    )
    joins = " ".join(
        f"LEFT JOIN words w{i} ON w{i}.w = p.p{i} // {_BLOOM_WORD}"
        for i in range(_BLOOM_K)
    )
    missed = con.execute(f"""
        WITH pos AS (
            {" UNION ALL ".join(
                "SELECT " + _POS_DUCK.format(i=i, key="CAST(k AS VARCHAR)")
                + " AS p FROM dim" for i in range(_BLOOM_K))}),
        words AS (
            SELECT p // {_BLOOM_WORD} AS w,
                   bit_or(1::BIGINT << CAST(p % {_BLOOM_WORD} AS INT)) AS mask
            FROM pos GROUP BY 1),
        cand AS (
            SELECT p.k, CASE WHEN {bit_tests} THEN 1 ELSE 0 END AS c
            FROM (SELECT k, {pos_cols} FROM probe) p {joins})
        SELECT count(*) FROM cand
        WHERE c = 0 AND k IN (SELECT k FROM dim)
    """).fetchone()[0]
    assert missed == 0


@given(keys=st.lists(st.integers(min_value=0, max_value=10**6),
                     min_size=1, max_size=40, unique=True))
@settings(max_examples=25, deadline=None)
def test_kmv_sketch_degenerates_to_exact_below_k(keys):
    """KMV contract: when a set has fewer than k members the sketch
    IS the set, so the k-min of any union of such sketches gives the
    exact Jaccard — verified here by replaying the estimator in
    Python on the md5 hashes DuckDB computes."""
    import duckdb

    con = duckdb.connect()
    hashes = [
        r[0]
        for r in con.execute(
            "SELECT ('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 12))::BIGINT "
            "FROM (SELECT unnest(?::BIGINT[]) AS k)", [keys]
        ).fetchall()
    ]
    assert len(set(hashes)) == len(keys)  # 48-bit md5: no collisions here
    k = 64
    sketch = sorted(hashes)[:k]
    assert sketch == sorted(hashes)[: min(k, len(keys))]


@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=5),      # user
            st.sampled_from(["view", "click", "purchase", "error"]),
            st.integers(min_value=0, max_value=4 * 3600 * 1000000),  # µs
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=40, deadline=None)
def test_funnel_window_oracle_matches_simulation(events):
    """Pins the time-bounded funnel SEMANTICS independent of both
    engines: the DuckDB oracle (which Spark already hash-matches at
    every fixture) must agree with a direct Python simulation of the
    rule — t1 = first view, t2 = first click in [t1, t1+1h],
    t3 = first purchase in [t2, t2+1h] — on arbitrary event sets,
    including ties and chains that cross the budget boundary."""
    import duckdb

    from open_street_map_data_wrangling_spark.plans import load_all_queries

    # python simulation
    hour = 3600 * 1000000
    users = {}
    for u, et, us in events:
        users.setdefault(u, []).append((et, us))
    s1 = s2 = s3 = 0
    for evs in users.values():
        t1 = min((us for et, us in evs if et == "view"), default=None)
        if t1 is None:
            continue
        s1 += 1
        t2 = min(
            (us for et, us in evs if et == "click" and t1 <= us <= t1 + hour),
            default=None,
        )
        if t2 is None:
            continue
        s2 += 1
        t3 = min(
            (
                us
                for et, us in evs
                if et == "purchase" and t2 <= us <= t2 + hour
            ),
            default=None,
        )
        if t3 is not None:
            s3 += 1

    # oracle on the same rows (epoch-µs → TIMESTAMP for the view)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE raw(user_id BIGINT, event_type VARCHAR, us BIGINT)"
    )
    con.executemany("INSERT INTO raw VALUES (?, ?, ?)", events)
    con.execute(
        "CREATE VIEW events AS SELECT user_id, event_type,"
        " make_timestamp(us) AS ts FROM raw"
    )
    oracle = load_all_queries()["q_funnel_window"].oracle
    row = con.execute(oracle).fetchone()
    assert (row[0], row[1], row[2]) == (s1, s2, s3)


@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    w=st.integers(min_value=1, max_value=24),
    h=st.integers(min_value=1, max_value=24),
    data=st.data(),
)
def test_gif_lzw_roundtrip_property(w, h, data):
    """Property (X80): GIF87a/LZW is lossless — ANY pixel matrix
    roundtrips to exact stats.  Pure-Python property, no Spark job
    per example (codec layer only; the Spark seam is pinned by
    q_image_gif's oracle)."""
    from open_street_map_data_wrangling_spark.operators.multimodal import (
        decode_gif_gray,
        encode_gif_gray,
    )

    rows = [
        bytes(
            data.draw(
                st.lists(
                    st.integers(0, 255), min_size=w, max_size=w
                )
            )
        )
        for _ in range(h)
    ]
    got = decode_gif_gray(encode_gif_gray(w, h, rows))
    assert got == (
        w,
        h,
        sum(sum(r) for r in rows),
        sum(v * v for r in rows for v in r),
    )


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    bw=st.integers(min_value=1, max_value=3),
    bh=st.integers(min_value=1, max_value=3),
    data=st.data(),
)
def test_jpeg_block_constant_roundtrip_property(bw, bh, data):
    """Property (X78): the JPEG exactness argument holds for ANY
    block-constant value grid, not just the fixture formula — each
    8x8 block one free byte, full Huffman/DC-prediction/DCT pipeline,
    bit-exact stats."""
    from open_street_map_data_wrangling_spark.operators.multimodal import (
        decode_jpeg_gray,
        encode_jpeg_gray,
    )

    vals = [
        [data.draw(st.integers(0, 255)) for _ in range(bw)]
        for _ in range(bh)
    ]
    w, h = bw * 8, bh * 8
    rows = [
        bytes(vals[y // 8][x // 8] for x in range(w)) for y in range(h)
    ]
    got = decode_jpeg_gray(encode_jpeg_gray(w, h, rows))
    assert got == (
        w,
        h,
        sum(64 * v for r in vals for v in r),
        sum(64 * v * v for r in vals for v in r),
    )
