"""Round-16 optimization pins.

- Band index (bucket(B, band_key) long layout): with-index state equals
  without-index state across fold / retract / fused CDC apply; the index
  stays in lockstep with the signature store; a small batch's probe
  manifest-prunes to a strict subset of the index files.
- est_sim on the band join: dedup_batch_incremental's fused form equals
  the r15 lookup-join form row for row (pinned against a hand recompute).
- _merge_mor single source evaluation: an op-column merge evaluates its
  source exactly once (r15 re-ran it for the key-delete file).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.test_round15_ops import _cdc_batches, _drain, _mk_stores


def _mk_band_index(spark, tmp_path, tag, sig_store, buckets=8):
    from emr_apache_iceberg_workshop_spark.plans.dedup import build_band_index

    return build_band_index(
        spark, sig_store, str(tmp_path / f"{tag}_bands"), buckets=buckets
    )


def _index_rows(band_store):
    return {
        (r["doc_id"], r["band_idx"], r["band_key"])
        for r in band_store.scan().collect()
    }


def _store_bands(sig_store):
    from emr_apache_iceberg_workshop_spark.plans.dedup import _bands_long

    return {
        (r["doc_id"], r["band_idx"], r["band_key"])
        for r in _bands_long(sig_store.scan(), "doc_id").collect()
    }


def _drain_indexed(spark, batches, sig, lab, band):
    from emr_apache_iceberg_workshop_spark.plans.dedup import (
        apply_cdc_batch_clusters,
    )

    for b in batches:
        apply_cdc_batch_clusters(spark, b, sig, lab, band_store=band)
    return {
        (r["doc_id"], r["label"])
        for r in lab.scan().select("doc_id", "label").collect()
    }


def test_band_index_cdc_apply_equals_flat_store(spark, tmp_path):
    """The fused CDC apply with a band index must land the identical
    label AND signature state as the flat-store probe, and the index must
    end in lockstep with the signature store's bands."""
    s1, l1 = _mk_stores(spark, tmp_path, "idx")
    idx = _mk_band_index(spark, tmp_path, "idx", s1)
    s2, l2 = _mk_stores(spark, tmp_path, "flat")
    got = _drain_indexed(spark, _cdc_batches(spark), s1, l1, idx)
    exp = _drain(spark, _cdc_batches(spark), s2, l2, fused=True)
    assert got == exp and got
    sig1 = {tuple(r) for r in s1.scan().collect()}
    sig2 = {tuple(r) for r in s2.scan().collect()}
    assert sig1 == sig2
    assert _index_rows(idx) == _store_bands(s1)


def test_band_index_fold_and_retract_sync(spark, tmp_path):
    """Direct fold/retract with a band index: same label state as the
    flat-store path, index in lockstep after both an append fold and a
    component-splitting retraction."""
    from emr_apache_iceberg_workshop_spark.plans.dedup import (
        build_label_store,
        build_signature_store,
        fold_batch_clusters,
        retract_batch_clusters,
    )
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    base = (
        "the quick brown fox jumps over the lazy dog and then runs far away "
        "into the deep dark forest looking for more interesting things to do"
    )
    corpus = spark.createDataFrame(
        [(i, f"{base} tail{i % 5}") for i in range(30)],
        "doc_id bigint, text string",
    )
    batch = spark.createDataFrame(
        [(i, f"{base} tail{i % 5}") for i in range(30, 40)],
        "doc_id bigint, text string",
    )
    rids = spark.createDataFrame([(5,), (10,)], "doc_id bigint")

    states = {}
    for tag in ("with", "without"):
        sig_root = str(tmp_path / f"{tag}_sigs")
        build_signature_store(spark, corpus, sig_root)
        sig = SnapshotTable(spark, sig_root)
        lab = build_label_store(spark, sig, str(tmp_path / f"{tag}_labels"))
        band = (
            _mk_band_index(spark, tmp_path, tag, sig) if tag == "with" else None
        )
        fold_batch_clusters(
            spark, batch, sig, lab, append=True, band_store=band
        )
        retract_batch_clusters(spark, rids, sig, lab, band_store=band)
        states[tag] = {
            (r["doc_id"], r["label"]) for r in lab.scan().collect()
        }
        if band is not None:
            assert _index_rows(band) == _store_bands(sig)
    assert states["with"] == states["without"] and states["with"]


def test_band_index_probe_prunes_manifest_files(spark, tmp_path):
    """A small batch's band keys must manifest-prune the index to a
    strict subset of its files (the structural 100 TB win: the probe
    reads O(batch-bands / buckets) of the index, not the whole store)."""
    from emr_apache_iceberg_workshop_spark.plans.dedup import (
        _bands_long,
        _pruned_store_bands,
        build_signature_store,
        minhash_signature_df,
    )
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    # diverse texts -> band keys spread across buckets
    corpus = spark.createDataFrame(
        [
            (i, f"document {i} carries its very own unique vocabulary "
                f"token{i} token{i * 7} token{i * 13} and nothing shared")
            for i in range(40)
        ],
        "doc_id bigint, text string",
    )
    sig_root = str(tmp_path / "sigs")
    build_signature_store(spark, corpus, sig_root)
    sig = SnapshotTable(spark, sig_root)
    band = _mk_band_index(spark, tmp_path, "p", sig, buckets=32)

    batch = spark.createDataFrame(
        [(99, "one single brand new document with its own words only")],
        "doc_id bigint, text string",
    )
    batch_sig = minhash_signature_df(batch).localCheckpoint(eager=True)
    keys = [
        r["band_key"]
        for r in _bands_long(batch_sig, "b_id").select("band_key").distinct().collect()
    ]
    kept, total = band.plan_files_in("band_key", keys)
    # 1 doc = at most N_BANDS distinct keys -> at most 4 of 32 buckets
    assert total > 4, f"fixture too small to demonstrate pruning: {total} files"
    assert len(kept) < total, (len(kept), total)
    assert len(kept) <= 4 * max(
        1, total // 32 + 1
    ), f"pruning kept too much: {len(kept)}/{total}"

    # and the pruned relation holds every colliding row the flat stream has
    pruned = _pruned_store_bands(band, batch_sig, 100_000)
    bl = _bands_long(batch_sig, "b_id")
    via_index = {
        tuple(r)
        for r in bl.join(
            pruned.selectExpr("doc_id AS s_id", "band_idx", "band_key"),
            ["band_idx", "band_key"],
        )
        .select("b_id", "s_id")
        .collect()
    }
    via_store = {
        tuple(r)
        for r in bl.join(
            _bands_long(sig.scan(), "s_id"), ["band_idx", "band_key"]
        )
        .select("b_id", "s_id")
        .collect()
    }
    assert via_index == via_store


def _batch_band_candidates(batch_sig, others):
    """Banded candidate pairs for a batch, (doc_a < doc_b) distinct:
    batch-vs-store band collisions plus batch-internal ones — the r15
    candidate shape the fused est_sim join is pinned against."""
    from emr_apache_iceberg_workshop_spark.plans.dedup import _bands_long

    bl = _bands_long(batch_sig, "b_id")
    vs_store = bl.join(_bands_long(others, "s_id"), ["band_idx", "band_key"]).selectExpr(
        "least(b_id, s_id) AS doc_a", "greatest(b_id, s_id) AS doc_b"
    )
    x, y = bl.alias("x"), bl.selectExpr("b_id AS y_id", "band_idx", "band_key").alias("y")
    vs_self = x.join(
        y,
        (F.col("x.band_idx") == F.col("y.band_idx"))
        & (F.col("x.band_key") == F.col("y.band_key"))
        & (F.col("x.b_id") < F.col("y.y_id")),
    ).selectExpr("b_id AS doc_a", "y_id AS doc_b")
    return vs_store.unionByName(vs_self).distinct()


def test_incremental_dedup_est_sim_rides_band_join(spark, tmp_path):
    """The fused est_sim form must reproduce the r15 lookup-join result
    exactly: one row per banded pair, est_sim = signature agreement /
    N_MINHASH, bit-identical doubles."""
    from emr_apache_iceberg_workshop_spark.plans.dedup import (
        _SIG_COLS,
        N_MINHASH,
        build_signature_store,
        dedup_batch_incremental,
        minhash_signature_df,
    )
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    base = "shared prefix tokens for everybody in this tiny corpus of text"
    corpus = spark.createDataFrame(
        [(i, f"{base} variant{i % 3}") for i in range(9)],
        "doc_id bigint, text string",
    )
    batch = spark.createDataFrame(
        [(100, f"{base} variant0"), (101, f"{base} variant1"),
         (102, "completely different content with no shared shingles at all")],
        "doc_id bigint, text string",
    )
    root = str(tmp_path / "sigs")
    build_signature_store(spark, corpus, root)
    store = SnapshotTable(spark, root)
    got = {
        (r["doc_a"], r["doc_b"]): r["est_sim"]
        for r in dedup_batch_incremental(spark, batch, store, append=False).collect()
    }
    # reference: the r15 shape — distinct banded pairs, then two
    # signature-lookup joins
    batch_sig = minhash_signature_df(batch).localCheckpoint(eager=True)
    others = store.scan().join(batch_sig.select("doc_id"), "doc_id", "left_anti")
    cand = _batch_band_candidates(batch_sig, others)
    mh_arr = "array(" + ", ".join(_SIG_COLS) + ")"
    sigs = others.select("doc_id", *_SIG_COLS).unionByName(
        batch_sig.select("doc_id", *_SIG_COLS)
    )
    ma = sigs.selectExpr("doc_id AS doc_a", f"{mh_arr} AS mha")
    mb = sigs.selectExpr("doc_id AS doc_b", f"{mh_arr} AS mhb")
    exp = {
        (r["doc_a"], r["doc_b"]): r["est_sim"]
        for r in cand.join(ma, "doc_a").join(mb, "doc_b").selectExpr(
            "doc_a",
            "doc_b",
            f"CAST(size(filter(zip_with(mha, mhb, (x, y) -> x = y), v -> v)) AS DOUBLE)"
            f" / {N_MINHASH} AS est_sim",
        ).collect()
    }
    assert got == exp and got


def test_merge_mor_evaluates_source_once(spark, tmp_path):
    """An op-column MOR merge must evaluate its source exactly once (r15
    derived the key-delete file from the UNmaterialized source — one full
    re-evaluation per commit; for signature merges that was the batch's
    whole minhash pass)."""
    from pyspark.sql.types import LongType

    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    acc = spark.sparkContext.accumulator(0)

    def bump(v):
        acc.add(1)
        return v

    bump_udf = F.udf(bump, LongType()).asNondeterministic()
    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), "k bigint, v bigint, Op string",
        properties={"write.merge.mode": "merge-on-read"},
    )
    src = (
        spark.range(50)
        .selectExpr("id AS k", "id AS v0", "IF(id % 10 = 0, 'D', 'U') AS Op")
        .withColumn("v", bump_udf(F.col("v0")))
        .select("k", "v", "Op")
    )
    t.merge(src, keys=["k"], op_col="Op")
    assert acc.value == 50, f"source evaluated {acc.value / 50}x"
    # and the merge behaved: D keys suppressed, U rows present
    got = {r["k"] for r in t.scan().collect()}
    assert got == {i for i in range(50) if i % 10 != 0}
