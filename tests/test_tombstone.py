"""Tombstone propagation into the serving stores (X88, r12).

q_tombstone_delete audits right-to-be-forgotten against the corpus;
these tests pin the other half of the contract: purging a deletion
request from each persisted serving artifact leaves a store
ROW-IDENTICAL to a fresh build over the filtered corpus (stats
included), no serve path ever surfaces a deleted id again, and the
IVF-PQ purge refuses to silently "forget" a model parameter.
"""

from pyspark.sql import functions as F

from open_street_map_data_wrangling_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"

# the demo tombstone predicate (text._TOMB_*): ids >= 32, id % 5 == 0
TOMB = "(doc_id >= 32 AND doc_id % 5 = 0)"
TOMB_VEC = "(vec_id >= 32 AND vec_id % 5 = 0)"


def _is_tomb(i: int) -> bool:
    return i >= 32 and i % 5 == 0


def test_purge_bm25_index_matches_filtered_rebuild(spark, tmp_path):
    """purge_bm25_index == build_bm25_index over the filtered corpus:
    identical posting rows AND identical recomputed stats (n_docs,
    total_toks) — a purge that only dropped rows would serve stale
    idf/avgdl and fail the stats half."""
    import open_street_map_data_wrangling_spark.operators.text as tx

    docs = load_table(spark, SF, "documents")
    purged = str(tmp_path / "bm25_purged")
    rebuilt = str(tmp_path / "bm25_rebuilt")
    tx.build_bm25_index(docs, purged)
    tx.purge_bm25_index(spark, purged, docs.filter(TOMB).select("doc_id"))
    tx.build_bm25_index(docs.filter(f"NOT {TOMB}"), rebuilt)

    rows = lambda d: {
        (r["tok"], r["doc_id"], r["tf"], r["dl"], r["bkt"])
        for r in spark.read.parquet(f"{d}/postings").collect()
    }
    assert rows(purged) == rows(rebuilt) and rows(purged)
    st = lambda d: [
        (r["n_docs"], r["total_toks"])
        for r in spark.read.parquet(f"{d}/stats").collect()
    ]
    assert st(purged) == st(rebuilt)
    served_p = [tuple(r) for r in tx.bm25_search(spark, purged).collect()]
    served_r = [tuple(r) for r in tx.bm25_search(spark, rebuilt).collect()]
    assert served_p == served_r and served_p
    assert not any(_is_tomb(r[1]) for r in served_p)


def test_purge_ivfpq_index_matches_filtered_rebuild(spark, tmp_path):
    """purge_ivfpq_index == build_ivfpq_index over the filtered
    corpus under the frozen model (tombstones above the seed horizon
    leave seeds/ identical, so the rebuild derives the same codebook
    and centroids), and the served ADC ranking matches."""
    import open_street_map_data_wrangling_spark.operators.pq as pq

    emb = load_table(spark, SF, "embeddings")
    purged = str(tmp_path / "ivfpq_purged")
    rebuilt = str(tmp_path / "ivfpq_rebuilt")
    pq.build_ivfpq_index(emb, purged)
    pq.purge_ivfpq_index(
        spark, purged, emb.filter(TOMB_VEC).select("vec_id")
    )
    pq.build_ivfpq_index(emb.filter(f"NOT {TOMB_VEC}"), rebuilt)

    rows = lambda d: {
        (r["vec_id"], r["cid"], r["code0"], r["code1"], r["code2"],
         r["code3"], r["__batch"])
        for r in spark.read.parquet(f"{d}/codes").collect()
    }
    assert rows(purged) == rows(rebuilt) and rows(purged)
    assert not any(_is_tomb(vid) for vid, *_ in rows(purged))
    served_p = [tuple(r) for r in pq.ivfpq_search(spark, purged).collect()]
    served_r = [tuple(r) for r in pq.ivfpq_search(spark, rebuilt).collect()]
    assert served_p == served_r and served_p


def test_purge_ivfpq_index_refuses_model_seeds(spark, tmp_path):
    """A deletion request that names a codebook/centroid/probe seed
    must raise, not half-comply: the id's raw vector would keep
    parameterizing every lookup after its codes row vanished.
    Forgetting a model parameter is a retrain, and the caller must
    choose it explicitly."""
    import pytest

    import open_street_map_data_wrangling_spark.operators.pq as pq

    emb = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "ivfpq_seedguard")
    pq.build_ivfpq_index(emb, path)
    with pytest.raises(ValueError, match="model parameters"):
        pq.purge_ivfpq_index(
            spark, path, emb.filter("vec_id = 3").select("vec_id")
        )
    # and the store is untouched: the guard fires before any write
    assert spark.read.parquet(f"{path}/codes").filter(
        "vec_id = 3"
    ).count() == 1


def test_purge_span_gram_store_matches_filtered_rebuild(spark, tmp_path):
    """Counter subtraction is exact: purging the deleted docs' gram
    counts (their text replayed one last time, pre-rewrite) leaves
    the store equal to a rebuild over the filtered corpus, zero-count
    grams dropped, applied-batch markers preserved."""
    from open_street_map_data_wrangling_spark.streaming.jobs import (
        purge_span_gram_store,
        span_gram_merge_fn,
    )

    docs = load_table(spark, SF, "documents").filter("doc_id < 80").select(
        "doc_id", "text"
    )
    purged = str(tmp_path / "span_purged")
    rebuilt = str(tmp_path / "span_rebuilt")
    span_gram_merge_fn(spark, purged)(docs, 0)
    purge_span_gram_store(spark, purged, docs.filter(TOMB))
    span_gram_merge_fn(spark, rebuilt)(docs.filter(f"NOT {TOMB}"), 0)

    cnt = lambda d: {
        (r["g"], r["cnt"]) for r in spark.read.parquet(d).collect()
    }
    assert cnt(purged) == cnt(rebuilt) and cnt(purged)
    assert not any(c <= 0 for _, c in cnt(purged))
    # redelivery detection survives the purge: the marker is intact,
    # so re-applying batch 0 stays a no-op
    span_gram_merge_fn(spark, purged)(docs, 0)
    assert cnt(purged) == cnt(rebuilt)
    # and the purge itself is retry-safe (ADVICE r12): a redelivered
    # deletion request hits its _purged_ marker and no-ops instead of
    # subtracting shared gram counts a second time
    purge_span_gram_store(spark, purged, docs.filter(TOMB))
    assert cnt(purged) == cnt(rebuilt)


def test_span_gram_purge_marker_survives_later_batches(spark, tmp_path):
    """A merge after a purge must carry the purge's ``_purged_``
    marker forward: otherwise a retried deletion request arriving
    after the next batch subtracts the shared gram counts twice and
    the store drifts from the filtered rebuild."""
    import os

    from open_street_map_data_wrangling_spark.streaming.jobs import (
        purge_span_gram_store,
        span_gram_merge_fn,
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    b0 = docs.filter("doc_id < 80")
    b1 = docs.filter("doc_id >= 80 AND doc_id < 120")
    purged = str(tmp_path / "span_purged")
    rebuilt = str(tmp_path / "span_rebuilt")
    span_gram_merge_fn(spark, purged)(b0, 0)
    purge_span_gram_store(spark, purged, b0.filter(TOMB))
    span_gram_merge_fn(spark, purged)(b1, 1)
    markers = sorted(n for n in os.listdir(purged) if n.startswith("_"))
    assert "_applied_0" in markers and "_applied_1" in markers
    assert any(n.startswith("_purged_") for n in markers)

    purge_span_gram_store(spark, purged, b0.filter(TOMB))
    span_gram_merge_fn(spark, rebuilt)(b0.filter(f"NOT {TOMB}"), 0)
    span_gram_merge_fn(spark, rebuilt)(b1, 1)
    cnt = lambda d: {
        (r["g"], r["cnt"]) for r in spark.read.parquet(d).collect()
    }
    assert cnt(purged) == cnt(rebuilt) and cnt(purged)


def test_purge_winnow_store_matches_filtered_rebuild(spark, tmp_path):
    """Print rows key by doc_id, so the purge is a pure anti-join:
    store == rebuild over the filtered corpus and the served clone
    pairs can never name a forgotten doc."""
    from open_street_map_data_wrangling_spark.streaming.jobs import (
        purge_winnow_store,
        winnow_pairs_serve,
        winnow_print_merge_fn,
    )

    docs = load_table(spark, SF, "documents").filter("doc_id < 80").select(
        "doc_id", "text"
    )
    purged = str(tmp_path / "win_purged")
    rebuilt = str(tmp_path / "win_rebuilt")
    winnow_print_merge_fn(spark, purged)(docs, 0)
    purge_winnow_store(spark, purged, docs.filter(TOMB).select("doc_id"))
    winnow_print_merge_fn(spark, rebuilt)(docs.filter(f"NOT {TOMB}"), 0)

    prints = lambda d: {
        (r["doc_id"], r["sel"]) for r in spark.read.parquet(d).collect()
    }
    assert prints(purged) == prints(rebuilt) and prints(purged)
    pairs_p = {tuple(r) for r in winnow_pairs_serve(spark, purged).collect()}
    pairs_r = {tuple(r) for r in winnow_pairs_serve(spark, rebuilt).collect()}
    assert pairs_p == pairs_r
    assert not any(
        _is_tomb(a) or _is_tomb(b) for a, b, *_ in pairs_p
    )


def test_tombstone_served_never_surfaces_deleted(spark):
    """End-to-end: after the purges, all four serve paths — bm25,
    ivfpq ADC, hybrid rrf, maxsim — answer from the stores and none
    returns a tombstoned id.  (The hash gate separately proves each
    ranking equals the filtered-corpus recompute.)"""
    from open_street_map_data_wrangling_spark.operators.text import (
        q_tombstone_served,
    )

    rows = q_tombstone_served(spark, SF).collect()
    assert {r["path"] for r in rows} == {"bm25", "ivfpq", "rrf", "maxsim"}
    assert not any(_is_tomb(r["doc_id"]) for r in rows)
    for path in ("bm25", "ivfpq", "rrf", "maxsim"):
        ranks = sorted(r["rank"] for r in rows if r["path"] == path)
        assert ranks == list(range(1, len(ranks) + 1)) and ranks


def test_purge_text_index_matches_filtered_rebuild(spark, tmp_path):
    """purge_text_index == build_text_index over the filtered
    corpus, and text_search never returns a purged doc."""
    import open_street_map_data_wrangling_spark.operators.text as tx
    from open_street_map_data_wrangling_spark.streaming.jobs import (
        purge_text_index,
    )

    docs = load_table(spark, SF, "documents")
    purged = str(tmp_path / "ti_purged")
    rebuilt = str(tmp_path / "ti_rebuilt")
    tx.build_text_index(docs, purged)
    purge_text_index(spark, purged, docs.filter(TOMB).select("doc_id"))
    tx.build_text_index(docs.filter(f"NOT {TOMB}"), rebuilt)
    rows = lambda d: {
        (r["tok"], r["doc_id"], r["bkt"])
        for r in spark.read.parquet(f"{d}/postings").collect()
    }
    assert rows(purged) == rows(rebuilt) and rows(purged)
    terms = ["merge", "filter"]
    sp = sorted(
        r["doc_id"] for r in tx.text_search(spark, purged, terms).collect()
    )
    sr = sorted(
        r["doc_id"] for r in tx.text_search(spark, rebuilt, terms).collect()
    )
    assert sp == sr and sp
    assert not any(_is_tomb(d) for d in sp)


def test_purge_image_prints_and_contamination_bands(spark, tmp_path):
    """The r12 stores get the same delete story: both anti-join
    purges equal a rebuild over the filtered inputs, and the serve
    paths (image_dedup_check / contamination_check) never name a
    purged id again."""
    from open_street_map_data_wrangling_spark.streaming.jobs import (
        contamination_bands_merge_fn,
        contamination_check,
        image_dedup_check,
        image_prints_merge_fn,
        purge_contamination_bands,
        purge_image_prints,
    )

    docs = load_table(spark, SF, "documents")
    old = docs.filter("doc_id % 2 = 0").select("doc_id", "text")
    new = docs.filter("doc_id % 2 = 1").select("doc_id", "text")

    ip, ir = str(tmp_path / "ip_p"), str(tmp_path / "ip_r")
    image_prints_merge_fn(spark, ip)(old, 0)
    purge_image_prints(spark, ip, old.filter(TOMB))
    image_prints_merge_fn(spark, ir)(old.filter(f"NOT {TOMB}"), 0)
    rows = lambda d: {tuple(r) for r in spark.read.parquet(d).collect()}
    assert rows(ip) == rows(ir) and rows(ip)
    gate = image_dedup_check(spark, ip, new).collect()
    assert not any(_is_tomb(r["corpus_doc"]) for r in gate)

    cp, cr = str(tmp_path / "cb_p"), str(tmp_path / "cb_r")
    contamination_bands_merge_fn(spark, cp)(old, 0)
    purge_contamination_bands(spark, cp, old.filter(TOMB))
    contamination_bands_merge_fn(spark, cr)(old.filter(f"NOT {TOMB}"), 0)
    assert rows(cp) == rows(cr) and rows(cp)
    cg = contamination_check(spark, cp, new).collect()
    assert not any(_is_tomb(r["example_train_doc"]) for r in cg)


def test_meta_store_lifecycle_preserves_filter_columns(spark, tmp_path):
    """Meta-built stores keep their metadata columns through EVERY
    lifecycle op — purge, compaction, and streaming maintenance
    (fixed-DDL reads / explicit selects silently stripped them
    before this pin), and filtered serving still answers correctly
    afterwards."""
    from pyspark.sql import functions as F

    import open_street_map_data_wrangling_spark.operators.pq as pq
    import open_street_map_data_wrangling_spark.operators.text as tx
    from open_street_map_data_wrangling_spark.streaming.jobs import (
        bm25_index_merge_fn,
        ivfpq_codes_merge_fn,
    )

    docs = load_table(spark, SF, "documents")
    emb = load_table(spark, SF, "embeddings")

    # BM25 meta store: build half, stream the other half in, purge
    bmp = str(tmp_path / "bm25_meta")
    tx.build_bm25_index(docs.filter("doc_id < 250"), bmp, meta=("source",))
    bm25_index_merge_fn(spark, bmp, meta=("source",))(
        docs.filter("doc_id >= 250"), 0
    )
    tx.purge_bm25_index(spark, bmp, docs.filter(TOMB).select("doc_id"))
    cols = spark.read.parquet(f"{bmp}/postings").columns
    assert "source" in cols
    rebuilt = str(tmp_path / "bm25_meta_rebuilt")
    tx.build_bm25_index(
        docs.filter(f"NOT {TOMB}"), rebuilt, meta=("source",)
    )
    rows = lambda d: {
        (r["tok"], r["doc_id"], r["tf"], r["dl"], r["source"], r["bkt"])
        for r in spark.read.parquet(f"{d}/postings").collect()
    }
    assert rows(bmp) == rows(rebuilt) and rows(bmp)
    served = tx.bm25_search_many(
        spark, bmp,
        queries=((0, ("merge", "filter")),),
        filters={0: "src1"},
    ).collect()
    src = {
        int(r["doc_id"]): r["source"]
        for r in docs.select("doc_id", "source").collect()
    }
    assert served and all(src[r["doc_id"]] == "src1" for r in served)
    assert not any(_is_tomb(r["doc_id"]) for r in served)

    # IVF-PQ meta store: build half, stream half, compact, purge
    ivp = str(tmp_path / "ivfpq_meta")
    pq.build_ivfpq_index(
        emb.filter("vec_id < 250"), ivp, meta=("label",)
    )
    ivfpq_codes_merge_fn(spark, ivp, meta=("label",))(
        emb.filter("vec_id >= 250"), 0
    )
    pq.compact_ivfpq_index(spark, ivp)
    pq.purge_ivfpq_index(spark, ivp, emb.filter(TOMB_VEC).select("vec_id"))
    cols = spark.read.parquet(f"{ivp}/codes").columns
    assert "label" in cols
    qrows = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter("vec_id IN (0, 17)").collect()
    }
    got = pq.ivfpq_search_many(
        spark, ivp, qrows, k=5, filters={0: 2, 17: 5}
    ).collect()
    labels = {
        int(r["vec_id"]): int(r["label"])
        for r in emb.select("vec_id", "label").collect()
    }
    want = {0: 2, 17: 5}
    assert got and all(
        labels[r["vec_id"]] == want[r["qid"]] for r in got
    )
    assert not any(_is_tomb(r["vec_id"]) for r in got)


def test_purge_media_prints_audio_video(spark, tmp_path):
    """X107 stores get the same delete story as the image one: the
    prints purge is modality-agnostic (anti-join on doc_id over the
    shared 12-byte print schema), equals a rebuild over the filtered
    inputs, and the generic gate never names a purged id again —
    for BOTH the audio and video fingerprint stages."""
    from open_street_map_data_wrangling_spark.operators.multimodal import (
        audio_fingerprints,
        video_fingerprints,
    )
    from open_street_map_data_wrangling_spark.streaming.jobs import (
        media_dedup_check,
        media_prints_merge_fn,
        purge_image_prints,
    )

    docs = load_table(spark, SF, "documents")
    old = docs.filter("doc_id % 2 = 0").select("doc_id")
    new = docs.filter("doc_id % 2 = 1").select("doc_id")
    rows = lambda d: {tuple(r) for r in spark.read.parquet(d).collect()}
    for tag, fp_fn in (
        ("a", audio_fingerprints),
        ("v", video_fingerprints),
    ):
        purged = str(tmp_path / f"{tag}_p")
        rebuilt = str(tmp_path / f"{tag}_r")
        media_prints_merge_fn(spark, purged, fp_fn)(old, 0)
        purge_image_prints(spark, purged, old.filter(TOMB))
        media_prints_merge_fn(spark, rebuilt, fp_fn)(
            old.filter(f"NOT {TOMB}"), 0
        )
        assert rows(purged) == rows(rebuilt) and rows(purged)
        gate = media_dedup_check(spark, purged, new, fp_fn).collect()
        assert gate
        assert not any(_is_tomb(r["corpus_doc"]) for r in gate)


def test_purge_ivfpq_probes_forgets_query_template(spark, tmp_path):
    """probes/ (the standing range-search batch) holds ORDINARY
    corpus rows, not model parameters: purging a probe id must
    succeed, rewrite probes/ so the raw vector is gone, and make
    ann_range_search skip that probe — exactly as if the row had
    never been ingested — while the surviving probes' answers stay
    identical to a filtered rebuild's."""
    import math

    import open_street_map_data_wrangling_spark.operators.pq as pq

    emb = spark.createDataFrame(
        [
            (
                i,
                [
                    float(math.sin(0.7 * i + 0.13 * d))
                    for d in range(64)
                ],
            )
            for i in range(200)
        ],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    purged = str(tmp_path / "probes_purged")
    rebuilt = str(tmp_path / "probes_rebuilt")
    pq.build_ivfpq_index(emb, purged)
    assert {
        r["vec_id"]
        for r in spark.read.parquet(f"{purged}/probes").collect()
    } == {3, 42, 77, 123}

    dele = spark.createDataFrame([(42,)], "vec_id LONG")
    pq.purge_ivfpq_index(spark, purged, dele)
    pq.build_ivfpq_index(emb.filter("vec_id != 42"), rebuilt)

    assert {
        r["vec_id"]
        for r in spark.read.parquet(f"{purged}/probes").collect()
    } == {3, 77, 123}
    gone = pq.ann_range_search(spark, purged, query_ids=(42,))
    assert gone.count() == 0
    srv = lambda p: sorted(
        tuple(r) for r in pq.ann_range_search(spark, p).collect()
    )
    assert srv(purged) == srv(rebuilt)
    # and 42 is gone from the ANSWER side too (codes/ rewrite)
    assert not any(v == 42 for _, v, _ in srv(purged))
