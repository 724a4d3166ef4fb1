"""Invariant tests for the round-4 changes.

Oracle parity (hash equality vs DuckDB) is covered generically by
test_oracle_parity.py; these pin the semantic invariants a hash can't
express: the stop-shingle hot-bucket bound, the durable-checkpoint CC
variant, and the register_views cache.
"""

import pytest
from pyspark.sql import functions as F


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_stop_shingle_cap_bounds_buckets(spark):
    """A shingle ubiquitous across documents is dropped from the
    inverted index (bucket bound), while rare discriminative shingles
    survive — the 100 TB hot-bucket property, pinned at toy scale."""
    from frinesis_spark.operators.dedup import _shingle_index

    boiler = "standard license header text"  # yields shingles in EVERY doc
    rows = [(i, f"{boiler} unique body {i} aa bb cc") for i in range(20)]
    # Two planted near-dups sharing a rare shingle chain.
    rows += [(100, "rare alpha beta gamma delta"), (101, "rare alpha beta gamma delta")]
    inv = _shingle_index(_docs_df(spark, rows), max_df=10)
    bucket_sizes = (
        inv.groupBy("shingle").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    assert bucket_sizes, "index must not be empty"
    assert max(r.n for r in bucket_sizes) <= 10
    # The boilerplate shingle (df=20 > 10) is gone...
    assert (
        inv.where(F.col("shingle") == "standard license header").count() == 0
    )
    # ...but the planted dup pair still shares its rare shingles.
    shared = (
        inv.where(F.col("doc_id").isin(100, 101))
        .groupBy("shingle")
        .agg(F.countDistinct("doc_id").alias("n"))
        .where(F.col("n") == 2)
        .count()
    )
    assert shared >= 2


def test_stop_shingle_cap_inert_on_fixture(spark, sf_dir):
    """On the driver fixture no shingle exceeds the production cap, so
    the capped index equals the raw explode — the oracle hash-match in
    CORRECTNESS therefore pins the capped semantics at zero drift."""
    from frinesis_spark.catalog import table
    from frinesis_spark.operators.dedup import (
        _MAX_DF,
        _shingle_index,
        _shingles,
        _with_words,
    )

    docs = table(spark, sf_dir, "documents")
    raw = _with_words(docs).select(
        "doc_id", F.explode(_shingles()).alias("shingle")
    )
    capped = _shingle_index(docs)
    assert capped.count() == raw.count()
    max_df = (
        raw.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .agg(F.max("df"))
        .first()[0]
    )
    assert max_df <= _MAX_DF


def test_minhash_stop_filter_drops_boilerplate_hash(spark):
    """With a ubiquitous shingle, the minhash signature pipeline's
    stop filter (array_except literal path) removes exactly that
    shingle's hash from every doc's hash set; docs that were pure
    boilerplate drop out."""
    from pyspark.sql import functions as F

    from frinesis_spark.operators.dedup import (
        _minhash_signatures,
        _shingles,
        _with_words,
    )

    boiler = "common header text here"
    rows = [(i, f"{boiler} body {i} xx yy zz") for i in range(12)]
    rows.append((99, boiler))  # boilerplate-only doc
    docs = _docs_df(spark, rows)
    sig = _minhash_signatures(docs, max_df=5)
    ids = {r.doc_id for r in sig.select("doc_id").collect()}
    assert 99 not in ids  # every shingle was stop-filtered
    assert ids == set(range(12))
    # Count surviving hashes for one doc: raw shingles minus the stop
    # ones shared by all 13 docs (df=13 > 5).
    raw = _with_words(docs.where(F.col("doc_id") == 0)).select(
        F.size(_shingles()).alias("n")
    ).first()[0]
    n_shared = (
        _with_words(docs)
        .select("doc_id", F.explode(_shingles()).alias("s"))
        .groupBy("s")
        .agg(F.countDistinct("doc_id").alias("df"))
        .where(F.col("df") > 5)
        .count()
    )
    # _minhash_signatures keeps hs as an array; its length for doc 0 =
    # raw shingles - stop shingles present in doc 0 (all n_shared).
    assert n_shared > 0


def test_cluster_cc_durable_checkpoint_matches_local(spark, sf_dir, tmp_path):
    """q_dedup_cluster_cc with a durable checkpoint dir yields the same
    clustering as the localCheckpoint default."""
    from frinesis_spark.operators.dedup import q_dedup_cluster_cc

    local = sorted(
        (r.doc_id, r.cluster_id, r.cluster_size)
        for r in q_dedup_cluster_cc(spark, sf_dir).collect()
    )
    durable = sorted(
        (r.doc_id, r.cluster_id, r.cluster_size)
        for r in q_dedup_cluster_cc(
            spark, sf_dir, checkpoint_dir=str(tmp_path / "cc_ckpt")
        ).collect()
    )
    assert durable == local
    assert durable, "fixture plants near-dup clusters; result must be non-empty"


def test_register_views_cached_per_session_dir(spark, sf_dir, monkeypatch):
    """Second register_views call with the same (session, dir) is a
    no-op; a different dir re-registers (drive_driver and bench share
    one session across sf dirs)."""
    from frinesis_spark import catalog

    calls = []
    real_table = catalog.table

    def counting_table(sp, d, name):
        calls.append(name)
        return real_table(sp, d, name)

    monkeypatch.setattr(catalog, "table", counting_table)
    monkeypatch.setattr(catalog, "_VIEWS_CACHE", {})
    catalog.register_views(spark, sf_dir)
    assert len(calls) == len(catalog.TABLES)
    catalog.register_views(spark, sf_dir)
    assert len(calls) == len(catalog.TABLES)  # cache hit: no new loads
    catalog.register_views(spark, sf_dir, force=True)
    assert len(calls) == 2 * len(catalog.TABLES)


def test_udtf_chunks_cover_and_overlap(spark, sf_dir):
    """Chunking invariants on the fixture: chunk 0 exists for every
    doc, consecutive full chunks overlap by window-stride tokens, and
    every chunk carries 1..window tokens."""
    from frinesis_spark.operators.scalar import (
        _CHUNK_STRIDE,
        _CHUNK_TOKENS,
        q_udtf_table_chunks,
    )

    out = q_udtf_table_chunks(spark, sf_dir)
    per_doc = out.groupBy("doc_id").agg(
        F.min("chunk_idx").alias("first"),
        F.max("chunk_idx").alias("last"),
        F.count(F.lit(1)).alias("n"),
    )
    assert per_doc.where(
        (F.col("first") != 0) | (F.col("n") != F.col("last") + 1)
    ).count() == 0  # dense 0..last chunk ids
    assert out.where(
        (F.col("n_tokens") < 1) | (F.col("n_tokens") > _CHUNK_TOKENS)
    ).count() == 0
    # A full chunk's tail re-appears at the head of the next chunk.
    row = (
        out.where(F.col("n_tokens") == _CHUNK_TOKENS)
        .orderBy("doc_id", "chunk_idx")
        .limit(1)
        .collect()
    )
    if row:
        doc_id, idx = row[0].doc_id, row[0].chunk_idx
        pair = {
            r.chunk_idx: r.chunk_text.split(" ")
            for r in out.where(
                (F.col("doc_id") == doc_id)
                & F.col("chunk_idx").isin(idx, idx + 1)
            ).collect()
        }
        if idx + 1 in pair:
            overlap = _CHUNK_TOKENS - _CHUNK_STRIDE
            assert pair[idx][-overlap:] == pair[idx + 1][:overlap]


def test_variant_shred_roundtrips_source_columns(spark, sf_dir):
    """The shredded VARIANT aggregate equals the same aggregate taken
    directly on the source columns — the construct→parse→extract chain
    is lossless for its typed fields."""
    from frinesis_spark.catalog import table
    from frinesis_spark.operators.scalar import q_scalar_variant_shred

    got = {
        r.vtype: (r.n_events, r.sum_k, r.sum_k2, r.max_k)
        for r in q_scalar_variant_shred(spark, sf_dir).collect()
    }
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    want = {
        r.event_type: (r.n, r.sk, 2 * r.sk, r.mk)
        for r in table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(k).alias("sk"),
            F.max(k).alias("mk"),
        )
        .collect()
    }
    assert got == want


def test_scd2_history_is_consistent(spark, sf_dir):
    """SCD-2 invariants on the fixture: every key has exactly one
    current row; a closed row's valid_to equals its successor's
    valid_from; non-updated keys keep their single original row."""
    from frinesis_spark.operators.relational import q_merge_scd2

    out = q_merge_scd2(spark, sf_dir)
    per_key = out.groupBy("c_custkey").agg(
        F.sum(F.col("is_current").cast("int")).alias("n_current"),
        F.count(F.lit(1)).alias("n_versions"),
    )
    assert per_key.where(F.col("n_current") != 1).count() == 0
    # Updated keys: 2 versions; fresh keys and untouched keys: 1.
    assert per_key.where(~F.col("n_versions").isin(1, 2)).count() == 0
    two = per_key.where(F.col("n_versions") == 2).select("c_custkey")
    chain_breaks = (
        out.join(two, "c_custkey")
        .groupBy("c_custkey")
        .agg(
            F.max("valid_to").alias("closed_at"),
            F.max(F.when(F.col("is_current"), F.col("valid_from"))).alias(
                "reopened_at"
            ),
        )
        .where(F.col("closed_at") != F.col("reopened_at"))
        .count()
    )
    assert chain_breaks == 0


def test_grouping_sets_grains_are_consistent(spark, sf_dir):
    """Each single-column grain's totals must equal the two-column
    grain re-aggregated — the defining property of grouping sets."""
    from frinesis_spark.operators.relational import q_agg_grouping_sets

    out = q_agg_grouping_sets(spark, sf_dir).cache()
    fine = out.where(F.col("grain") == 0)
    by_prio = {
        r.o_orderpriority: r.n_orders
        for r in fine.groupBy("o_orderpriority")
        .agg(F.sum("n_orders").alias("n_orders"))
        .collect()
    }
    got_prio = {
        r.o_orderpriority: r.n_orders
        for r in out.where(F.col("grain") == 1).collect()
    }
    assert got_prio == by_prio
    by_status = {
        r.o_orderstatus: r.n_orders
        for r in fine.groupBy("o_orderstatus")
        .agg(F.sum("n_orders").alias("n_orders"))
        .collect()
    }
    got_status = {
        r.o_orderstatus: r.n_orders
        for r in out.where(F.col("grain") == 2).collect()
    }
    assert got_status == by_status
    out.unpersist()
