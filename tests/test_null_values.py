"""Registry-wide null-value contract.

Real crawls carry rows with missing payloads: a document row with no
body, an embeddings row whose vector never materialized, an event
with no type.  The contract: every registered query survives a
fixture where the three pipeline tables carry such rows — null
payloads surface as NULL features or are excluded where the op's
semantics require a value (PQ cannot code a missing vector); nothing
raises.

The sweep that motivated this found 5 crashers, fixed where this test
now pins them:

* q_compression_ratio / q_mm_extract (text.py, multimodal.py) — the
  Python workers called ``.encode()`` / ``len()`` on None; their
  per-row generators now emit NULL metrics, matching what the SQL
  twin's length(NULL)/md5(NULL) produces.
* q_pq_adc / q_pq_recall / q_pq_recall_trained (pq.py) — a NULL
  embedding left the argmin fold's -1 accumulator seed as the code,
  and the ADC lookup crashed on element_at(lut, 0); _with_qemb now
  drops uncodable rows (mirrored by WHERE embedding IS NOT NULL in
  _CODES_SQL), one rule shared by codes/ADC/recall/build/training.

The fixture also carries CJK/emoji/RTL text rows under a source name
outside the srcN convention — that layer's one find was
q_domain_mix's ANSI CAST of the empty regexp_extract (fixed with
TRY_CAST, identical both engines).
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from open_street_map_data_wrangling_spark.plans import load_all_queries
from open_street_map_data_wrangling_spark.sources.catalog import TABLES

SRC = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def nulls_sf_dir(spark, tmp_path_factory):
    """sf0.001 plus null-payload rows in the three pipeline tables
    (fresh ids where the null column is a key input elsewhere)."""
    d = tmp_path_factory.mktemp("sf_nulls")
    for t in TABLES:
        df = spark.read.parquet(f"{SRC}/{t}.parquet")
        if t == "documents":
            extra = (
                df.limit(2)
                .withColumn("text", F.lit(None).cast("string"))
                .withColumn("lang", F.lit(None).cast("string"))
                .withColumn("doc_id", F.col("doc_id") + 1000000)
            )
            # unicode + foreign-source rows ride in the same sweep:
            # CJK/emoji/RTL text and a source name outside the srcN
            # convention (the latter crashed q_domain_mix's ANSI cast
            # until TRY_CAST, the one hit this sweep ever found)
            uni = spark.createDataFrame(
                [
                    (2000000 + i, txt, "xx", "uni", len(txt))
                    for i, txt in enumerate(
                        [
                            "héllo wörld 東京タワー 🚀 emoji",
                            "مرحبا بالعالم النص العربي",
                            "ẞ ß ŉ ǅ mixed ÇÊ̈ combining",
                        ]
                    )
                ],
                "doc_id long, text string, lang string, source string,"
                " n_chars long",
            )
            df = df.unionByName(extra).unionByName(uni)
        elif t == "embeddings":
            extra = (
                df.limit(2)
                .withColumn("embedding", F.lit(None).cast("array<float>"))
                .withColumn("vec_id", F.col("vec_id") + 1000000)
            )
            df = df.unionByName(extra)
        elif t == "events":
            extra = df.limit(2).withColumn(
                "event_type", F.lit(None).cast("string")
            )
            df = df.unionByName(extra)
        df.coalesce(1).write.mode("overwrite").parquet(
            str(d / f"{t}.parquet")
        )
    return str(d)


def test_every_registered_query_survives_null_payloads(spark, nulls_sf_dir):
    failures = []
    for name, spec in sorted(load_all_queries().items()):
        try:
            spec.spark(spark, nulls_sf_dir).limit(5).collect()
        except Exception as e:  # noqa: BLE001 — collecting the sweep
            first = (str(e).splitlines() or [type(e).__name__])[0][:120]
            failures.append(f"{name}: {type(e).__name__}: {first}")
    assert not failures, "\n".join(failures)


def test_null_payload_rows_surface_as_null_features(spark, nulls_sf_dir):
    """The fixed UDFs keep the null rows visible (NULL features), so
    a pipeline can COUNT its decode failures instead of silently
    dropping them; PQ coding excludes uncodable vectors entirely."""
    qs = load_all_queries()
    mm = {
        r["doc_id"]: r
        for r in qs["q_mm_extract"].spark(spark, nulls_sf_dir).collect()
    }
    null_rows = [r for d, r in mm.items() if 1000000 <= d < 2000000]
    assert len(null_rows) == 2
    assert all(
        r["n_bytes"] is None and r["content_md5"] is None for r in null_rows
    )
    cr = {
        r["doc_id"]: r
        for r in qs["q_compression_ratio"]
        .spark(spark, nulls_sf_dir)
        .collect()
    }
    assert all(
        cr[d]["ratio_x10k"] is None for d in cr if 1000000 <= d < 2000000
    )
    codes = (
        qs["q_pq_codes"].spark(spark, nulls_sf_dir).collect()
    )
    assert all(r["vec_id"] < 1000000 for r in codes)
    assert all(r["code0"] >= 0 for r in codes)


# (doc_id, n_chars) rows for the ten multimodal codec stages: a NULL
# doc_id with and without n_chars, a NULL n_chars, a negative id.
_CODEC_ROWS = [(3, 17), (-7, 5), (None, 9), (11, None), (None, None), (0, 0)]
_PRINTS_DDL = "doc_id bigint, dhash_hi bigint, dhash_lo bigint"


def test_codec_stage_null_rules(spark, monkeypatch):
    """The two null rules of the Arrow-batched codec stages.  The six
    (doc_id, n_chars) roundtrip stages emit exactly one row with every
    feature NULL for an input with a NULL doc_id or n_chars, keeping a
    non-NULL doc_id; the four doc_id-only stages emit no row for a NULL
    doc_id and ignore n_chars.  Each result's schema is its DDL."""
    from pyspark.sql.types import StructType

    from open_street_map_data_wrangling_spark.operators import multimodal as mm

    docs = spark.createDataFrame(_CODEC_ROWS, "doc_id bigint, n_chars bigint")
    monkeypatch.setattr(mm, "load_table", lambda spark, sf_dir, name: docs)
    ids = [d for d, _ in _CODEC_ROWS]
    roundtrip = {
        "q_image_pixels": mm.MM_PIXELS_SCHEMA,
        "q_audio_pcm": mm.MM_PCM_SCHEMA,
        "q_image_jpeg": mm.MM_JPEG_SCHEMA,
        "q_image_gif": mm.MM_GIF_SCHEMA,
        "q_video_frames": mm.MM_VIDEO_SCHEMA,
        "q_image_thumbnail": mm.MM_THUMB_SCHEMA,
    }
    for name, ddl in roundtrip.items():
        df = getattr(mm, name)(spark, "unused")
        assert df.schema == StructType.fromDDL(ddl), name
        rows = [tuple(r) for r in df.collect()]
        for d, n in _CODEC_ROWS:
            if d is None or n is None:
                continue
            got = [r for r in rows if r[0] == d]
            assert got and all(None not in r for r in got), (name, d)
        nulls = [r for r in rows if r[0] is None or None in r[1:]]
        want = [
            (d,) + (None,) * (len(df.columns) - 1)
            for d, n in _CODEC_ROWS
            if d is None or n is None
        ]
        assert sorted(nulls, key=repr) == sorted(want, key=repr), name
    doc_id_only = {
        "image_fingerprints": (mm.image_fingerprints, _PRINTS_DDL, 1),
        "audio_fingerprints": (mm.audio_fingerprints, _PRINTS_DDL, 1),
        "video_fingerprints": (mm.video_fingerprints, _PRINTS_DDL, 1),
        "q_video_sample": (
            lambda docs: mm.q_video_sample(spark, "unused"),
            mm.MM_VSAMPLE_SCHEMA,
            4,
        ),
    }
    for name, (stage, ddl, per_doc) in doc_id_only.items():
        df = stage(docs)
        assert df.schema == StructType.fromDDL(ddl), name
        rows = [tuple(r) for r in df.collect()]
        assert all(None not in r for r in rows), (name, rows)
        assert sorted(r[0] for r in rows) == sorted(
            d for d in ids if d is not None for _ in range(per_doc)
        ), name


def test_codec_stage_keeps_exact_ids_next_to_nulls(spark, monkeypatch):
    """A nullable bigint reaches ``rows_fn`` exact even when its Arrow
    batch also holds a NULL: odd ids above 2**53, which float64 cannot
    hold, come back unchanged from a (doc_id, n_chars) roundtrip stage
    and a doc_id-only stage.  Two of every three rows carry an id, so
    every round-robin batch of the stage's fan-out holds both."""
    from open_street_map_data_wrangling_spark.operators import multimodal as mm

    big = [2**53 + 2 * i + 1 for i in range(40)]
    rows = []
    for i, d in enumerate(big):
        rows.append((d, 5 + i % 7))
        if i % 2:
            rows.append((None, 3))
    docs = spark.createDataFrame(rows, "doc_id bigint, n_chars bigint")
    monkeypatch.setattr(mm, "load_table", lambda spark, sf_dir, name: docs)
    pixels = mm.q_image_pixels(spark, "unused").collect()
    assert sorted(r.doc_id for r in pixels if r.doc_id is not None) == big
    prints = mm.image_fingerprints(docs).collect()
    assert sorted(r.doc_id for r in prints) == big


def test_row_seam_stages_keep_exact_ids_next_to_a_null_id(spark, monkeypatch):
    """The feature scan, the header scan and the compression stage
    read doc_id exactly when their one batch also holds a NULL doc_id:
    2**53 + 1, which float64 cannot hold, comes back unchanged."""
    from open_street_map_data_wrangling_spark.operators import multimodal as mm
    from open_street_map_data_wrangling_spark.operators import text

    big = 2**53 + 1
    png = mm.encode_png_rgb(1, 1, [b"\x00\x00\x00"])
    media = spark.createDataFrame(
        [(big, png), (None, png)], "doc_id bigint, payload binary"
    ).coalesce(1)
    docs = spark.createDataFrame(
        [(big, "abc"), (None, "x")], "doc_id bigint, text string"
    ).coalesce(1)
    monkeypatch.setattr(text, "load_table", lambda spark, sf_dir, name: docs)
    stages = {
        "extract_media_features": mm.extract_media_features(media),
        "extract_image_dims": mm.extract_image_dims(media),
        "q_compression_ratio": text.q_compression_ratio(spark, "unused"),
    }
    for name, df in stages.items():
        assert df.rdd.getNumPartitions() == 1, name
        ids = sorted(r.doc_id for r in df.collect() if r.doc_id is not None)
        assert ids == [big], name
