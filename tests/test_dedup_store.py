"""Incremental MinHash dedup against the persisted signature store:
the incremental path must agree with a from-scratch batch run."""

from __future__ import annotations

from pyspark.sql import functions as F

from dataingestiontohana_spark.catalog import load_table
from dataingestiontohana_spark.operators.dedup import minhash_candidates
from dataingestiontohana_spark.operators.dedup_store import (
    append_to_store,
    dedup_against_store,
    write_signature_store,
)
from tests.conftest import SF0001


def test_incremental_matches_batch(spark, tmp_path):
    """Store = even doc_ids; shard = odd doc_ids. Incremental pairs
    (shard-vs-store + shard-internal) must equal exactly the batch
    pairs over the full corpus that involve a shard doc."""
    store_path = str(tmp_path / "sigstore")
    d = load_table(spark, SF0001, "documents")
    corpus = d.where(F.col("doc_id") % 2 == 0)
    shard = d.where(F.col("doc_id") % 2 == 1)

    write_signature_store(corpus, store_path)
    got = {
        (r["id_a"], r["id_b"]): (r["jaccard_sig"], r["vs"])
        for r in dedup_against_store(
            spark, shard, store_path, threshold=0.5
        ).collect()
    }

    batch = {
        (r["id_a"], r["id_b"]): r["jaccard_sig"]
        for r in minhash_candidates(d)
        .where(F.col("jaccard_sig") >= 0.5)
        .collect()
        if r["id_a"] % 2 == 1 or r["id_b"] % 2 == 1
    }
    assert {k: v[0] for k, v in got.items()} == batch and len(batch) > 0
    # vs labels are consistent with parity
    for (ia, ib), (_, vs) in got.items():
        assert vs == ("new" if (ia % 2 == 1 and ib % 2 == 1) else "store")


def test_append_makes_next_shard_see_previous(spark, tmp_path):
    """After append, a later shard deduplicates against the earlier
    shard's docs too — the rolling-ingest contract."""
    store_path = str(tmp_path / "sigstore")
    d = load_table(spark, SF0001, "documents")
    corpus = d.where(F.col("doc_id") % 3 == 0)
    shard1 = d.where(F.col("doc_id") % 3 == 1)
    shard2 = d.where(F.col("doc_id") % 3 == 2)

    write_signature_store(corpus, store_path)
    append_to_store(shard1, store_path)
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup_against_store(
            spark, shard2, store_path, threshold=0.5
        ).collect()
    }
    want = {
        (r["id_a"], r["id_b"])
        for r in minhash_candidates(d)
        .where(F.col("jaccard_sig") >= 0.5)
        .collect()
        if r["id_a"] % 3 == 2 or r["id_b"] % 3 == 2
    }
    assert got == want and len(want) > 0


def test_store_join_prunes_band_partitions(spark, tmp_path):
    """The store scan must carry the band partition column so a
    band-restricted read prunes directories (the layout contract)."""
    import os

    store_path = str(tmp_path / "sigstore")
    d = load_table(spark, SF0001, "documents")
    write_signature_store(d, store_path)
    assert sorted(
        e for e in os.listdir(store_path) if e.startswith("band=")
    ) == ["band=0", "band=1", "band=2", "band=3"]
    one_band = spark.read.parquet(store_path).where(F.col("band") == 2)
    plan = one_band._jdf.queryExecution().executedPlan().toString()
    pf_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf_lines and any("band" in ln for ln in pf_lines), plan
    n_all = spark.read.parquet(store_path).count()
    assert one_band.count() * 4 == n_all  # one band = quarter of rows


def test_streaming_ingest_dedups_against_store(spark, tmp_path):
    """The rolling-ingest composition on a live stream: each micro-batch
    is near-dup-checked against the signature store inside foreachBatch,
    survivors are appended to both the corpus sink and the store — so a
    doc duplicated across micro-batches lands exactly once."""
    import json
    import os

    from pyspark.sql import functions as SF

    store_path = str(tmp_path / "sigstore")
    src = str(tmp_path / "src")
    os.makedirs(src)

    base = "the quick brown fox jumps over the lazy dog " * 6
    # batch files arrive in order (one file per trigger); doc 20 in the
    # second batch duplicates doc 10 from the first
    with open(os.path.join(src, "b0.json"), "w") as f:
        f.write(json.dumps({"doc_id": 10, "text": base}) + "\n")
        f.write(json.dumps({"doc_id": 11, "text": "completely different words " * 8}) + "\n")
    with open(os.path.join(src, "b1.json"), "w") as f:
        f.write(json.dumps({"doc_id": 20, "text": base}) + "\n")
        f.write(json.dumps({"doc_id": 21, "text": "novel content entirely here " * 8}) + "\n")

    # distinct mtimes force the file-source ordering b0 -> b1
    os.utime(os.path.join(src, "b0.json"), (1_000_000, 1_000_000))
    os.utime(os.path.join(src, "b1.json"), (2_000_000, 2_000_000))

    # seed an empty store so the first batch has something to read
    write_signature_store(
        spark.createDataFrame([], "doc_id long, text string"), store_path
    )
    accepted: list[int] = []

    def ingest(batch_df, epoch_id):
        batch_df = batch_df.localCheckpoint(eager=True)
        # the operator names the id to drop: shard side for store
        # pairs, greater id for shard-internal pairs, the id itself
        # for re-offers — consume `reject`, don't recompute it
        dups = (
            dedup_against_store(spark, batch_df, store_path, threshold=0.8)
            .select(SF.col("reject").alias("dup_id"))
        )
        keep = batch_df.join(
            dups, batch_df["doc_id"] == dups["dup_id"], "left_anti"
        ).localCheckpoint(eager=True)
        accepted.extend(r["doc_id"] for r in keep.select("doc_id").collect())
        append_to_store(keep, store_path)

    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .json(src)
        .writeStream.foreachBatch(ingest)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    assert sorted(accepted) == [10, 11, 21]  # 20 rejected as a store dup


def test_reoffered_ids_are_flagged_as_store_dups(spark, tmp_path):
    """Crash-replay contract: a shard whose ids are ALREADY in the
    store (earlier attempt appended, checkpoint never committed) is
    flagged doc-for-doc as (id, id) store pairs — unconditionally, with
    ``reject`` naming the id, so a consumer drops every re-offer
    instead of double-accepting."""
    store_path = str(tmp_path / "sigstore")
    d = load_table(spark, SF0001, "documents").limit(40)
    write_signature_store(d, store_path)
    flagged = {
        (r["id_a"], r["id_b"]): (r["jaccard_sig"], r["vs"])
        for r in dedup_against_store(spark, d, store_path).collect()
        if r["id_a"] == r["id_b"]
    }
    ids = {r["doc_id"] for r in d.select("doc_id").collect()}
    assert set(flagged) == {(i, i) for i in ids}
    assert all(v == (1.0, "store") for v in flagged.values())


def test_store_pair_rejects_shard_side_even_when_store_id_greater(
    spark, tmp_path
):
    """Ids are NOT monotone across shards in general: when the store
    copy of a near-dup pair has the larger id, the consumer must still
    drop the SHARD copy — the store doc is already persisted. The
    `reject` column encodes this; greatest(id_a, id_b) would get it
    wrong here."""
    store_path = str(tmp_path / "sigstore")
    base = "some shared duplicated content repeated over and over " * 6
    store_docs = spark.createDataFrame(
        [(100, base), (200, "unrelated store material entirely " * 8)],
        "doc_id long, text string",
    )
    shard = spark.createDataFrame(
        [(3, base), (4, "fresh novel shard words " * 8)],
        "doc_id long, text string",
    )
    write_signature_store(store_docs, store_path)
    rows = dedup_against_store(
        spark, shard, store_path, threshold=0.8
    ).collect()
    pair = [r for r in rows if (r["id_a"], r["id_b"]) == (3, 100)]
    assert len(pair) == 1 and pair[0]["vs"] == "store"
    assert pair[0]["reject"] == 3  # the shard copy, NOT greatest()


def test_string_keyed_store_roundtrips(spark, tmp_path):
    """write/append accept any id type; the incremental read path must
    derive the id type from the shard instead of hardcoding long."""
    store_path = str(tmp_path / "sigstore")
    base = "identical text shared by both sides of the store " * 6
    corpus = spark.createDataFrame(
        [("doc-a", base), ("doc-b", "different corpus words " * 8)],
        "doc_id string, text string",
    )
    shard = spark.createDataFrame(
        [("doc-z", base)], "doc_id string, text string"
    )
    write_signature_store(corpus, store_path)
    rows = dedup_against_store(
        spark, shard, store_path, threshold=0.8
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in rows} == {("doc-a", "doc-z")}
    assert rows[0]["reject"] == "doc-z"


def test_oversized_shard_degrades_to_shuffle_and_matches(
    spark, tmp_path, monkeypatch
):
    """A shard past the broadcast budget must NOT fail or OOM: auto
    mode degrades to the shuffle (sort-merge) plan and produces results
    identical to the broadcast path AND to a from-scratch batch run —
    the r6 verdict's degraded-path item. The budget is monkeypatched
    to 1 KB so this real-corpus shard is 'oversized'."""
    from dataingestiontohana_spark.operators import dedup_store as ds

    store_path = str(tmp_path / "sigstore")
    d = load_table(spark, SF0001, "documents")
    corpus = d.where(F.col("doc_id") % 2 == 0)
    shard = d.where(F.col("doc_id") % 2 == 1)
    write_signature_store(corpus, store_path)

    def run():
        return {
            (r["id_a"], r["id_b"]): (r["jaccard_sig"], r["vs"], r["reject"])
            for r in dedup_against_store(
                spark, shard, store_path, threshold=0.5
            ).collect()
        }

    fast = run()  # broadcast path (real budget)
    monkeypatch.setattr(ds, "_SHARD_BROADCAST_BYTES", 1024)
    slow = run()  # same call, now auto-degraded to shuffle
    assert slow == fast and len(fast) > 0

    # and the degraded plan really is exchange-based, not broadcast
    out = dedup_against_store(spark, shard, store_path, threshold=0.5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan

    # equality with the from-scratch batch pairs (the incremental
    # contract holds in the degraded mode too)
    batch = {
        (r["id_a"], r["id_b"]): r["jaccard_sig"]
        for r in minhash_candidates(d)
        .where(F.col("jaccard_sig") >= 0.5)
        .collect()
        if r["id_a"] % 2 == 1 or r["id_b"] % 2 == 1
    }
    assert {k: v[0] for k, v in slow.items()} == batch


def test_store_side_never_sort_merge_joins(spark, tmp_path):
    """The 100 TB contract: every join against the store is broadcast
    (shard side broadcast into the store scan) — the corpus-scale store
    must never enter a SortMergeJoin exchange."""
    store_path = str(tmp_path / "sigstore")
    d = load_table(spark, SF0001, "documents")
    write_signature_store(d.where(F.col("doc_id") % 2 == 0), store_path)
    out = dedup_against_store(
        spark, d.where(F.col("doc_id") % 2 == 1), store_path
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan
