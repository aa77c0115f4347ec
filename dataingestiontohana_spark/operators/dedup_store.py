"""Incremental MinHash dedup against a PERSISTED signature store —
the production ingest flow: a new shard is checked against the
existing corpus without recomputing a single corpus signature.

At 100 TB, recomputing corpus MinHash signatures per ingest batch is
the dominant cost a naive pipeline pays; the store amortizes it:

- ``write_signature_store`` persists the banded signature frame
  (`operators/dedup.py::minhash_bands` row format: id, sig, band,
  bucket) partitioned by ``band`` — 4 directories whose files a
  band-bucket join reads with partition pruning.
- ``dedup_against_store`` computes signatures for the NEW shard only
  (work scales with the shard, not the corpus), bucket-equi-joins them
  against the store (new-vs-corpus) and against themselves
  (new-vs-new), and returns near-dup pairs above the threshold PLUS
  re-offered-id (id, id) rows which are returned UNCONDITIONALLY,
  below-threshold included (identity makes them duplicates — see the
  function docstring's crash-replay contract). Shuffle carries
  (id, sig, band, bucket) rows — never shingles.
- ``append_to_store`` adds the accepted shard's rows so the next
  shard sees it (parquet append into the band partitions).

Upgrade path for the store side of the join: persist via
`operators/skew.py::write_bucketed` keyed on ``bucket`` and the
corpus side of the candidate join becomes exchange-free too; the
plain partitioned-parquet form keeps this module storage-agnostic.

Bucket-size capping counts store + shard members per (band, bucket) —
the same totals a from-scratch combined run would see, so incremental
results track batch results — but computes them WITHOUT a corpus
shuffle: the store is first filtered map-only (broadcast semi-join on
the shard's touched buckets) and only that bounded slice is counted.
The candidate join broadcasts the shard bands into the store scan, so
the store side of the whole operation never enters an exchange — while
the shard fits the broadcast budget. An OVERSIZED shard (bulk backfill
through the incremental API) degrades to an explicit sort-merge plan
on the same logical shape: the touched store slice shuffles on
(band, bucket), which is slower but bounded and never OOMs
(``dedup_against_store(join_mode=...)``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataingestiontohana_spark.operators.dedup import (
    minhash_bands,
    signature_jaccard,
)

# Broadcast budget for the shard's banded signature frame (the shard is
# broadcast three ways: touched buckets, shard ids, and the full band
# rows for the candidate join). ~200 B per band row (id + 16x8 B sig +
# bucket prefix + overhead); past this, `join_mode="auto"` degrades to
# the shuffle (sort-merge) plan instead of OOMing the executors — the
# same budget discipline as llm_similarity._PROBE_BROADCAST_BYTES.
_SHARD_BROADCAST_BYTES = 512 << 20
_BYTES_PER_BAND_ROW = 200


def write_signature_store(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Persist the corpus's banded signatures, partitioned by band."""
    minhash_bands(docs, id_col, text_col).write.mode("overwrite").partitionBy(
        "band"
    ).parquet(path)


def append_to_store(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Add an accepted shard's signatures to the store."""
    minhash_bands(docs, id_col, text_col).write.mode("append").partitionBy(
        "band"
    ).parquet(path)


def dedup_against_store(
    spark: SparkSession,
    new_docs: DataFrame,
    path: str,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int = 256,
    join_mode: str = "auto",
    broadcast_budget_bytes: int | None = None,
) -> DataFrame:
    """(id_a, id_b, jaccard_sig, vs, reject) — near-dup pairs involving
    the new shard: ``vs = 'store'`` for shard-vs-corpus pairs, ``'new'``
    for duplicates inside the shard itself. ``id_a <= id_b`` per pair;
    ``id_a == id_b`` flags a RE-OFFERED id — a shard doc whose id is
    already in the store (the crash-replay case: an earlier attempt
    appended but the stream checkpoint never committed). Its
    jaccard_sig compares the store copy's signature with the shard
    copy's, so an unchanged replay scores 1.0 and a changed-text
    replay scores lower but is still flagged.

    ``reject`` names the id a consumer should DROP from the shard's
    accepted set, and is the column to consume — NOT min/max over the
    pair. Greater-id rejection is only safe when ids are assigned
    monotonically across shards; for a store pair whose store copy has
    the LARGER id, rejecting the greater id would drop a doc already
    persisted and accept its shard near-duplicate, leaving both copies
    in the corpus. ``reject`` is therefore always the SHARD-side id for
    store pairs (the store copy is immutable precedent), the greater id
    for shard-internal pairs (canonical-survivor convention), and the
    id itself for re-offers.

    The store copies of re-offered ids are EXCLUDED from general
    pairing (the shard copy supersedes them), which also keeps pair
    signatures deterministic when the replayed text changed.

    Work: signature computation over the SHARD only; the store
    contributes an equi-join on (band, bucket) — with the store
    partitioned by band, each join task reads one band directory.

    ``join_mode`` picks the physical strategy for the shard-side
    joins; results are identical across modes (pinned by pytest):

    - ``"broadcast"``: every shard-derived frame (touched buckets,
      shard ids, band rows) broadcasts into the store scan — the
      store side never enters an exchange. The fast path for normal
      incremental shards.
    - ``"shuffle"``: the DEGRADED path for an oversized shard (e.g. a
      bulk backfill fed through the incremental API). No broadcast
      hints: the candidate join becomes a band/bucket-partitioned
      sort-merge join of the shard against the touched store slice,
      and the id semi/anti joins shuffle on the id. The store slice
      that shuffles is still bounded by the buckets the shard touches.
    - ``"auto"`` (default): ``broadcast`` while the shard's banded
      frame fits ``broadcast_budget_bytes``
      (``_SHARD_BROADCAST_BYTES``), else ``shuffle`` — so an
      oversized shard degrades to a slower-but-correct plan instead
      of OOMing the executors or failing.
    """
    if join_mode not in ("auto", "broadcast", "shuffle"):
        raise ValueError(f"unknown join_mode {join_mode!r}")
    shard = minhash_bands(new_docs, id_col, text_col).localCheckpoint(
        eager=False
    )
    if join_mode == "auto":
        # budget resolved at call time so the module constant stays
        # the single knob; the count is a columnar prepass over the
        # (checkpointed) banded frame, reused by every downstream branch
        budget = (
            broadcast_budget_bytes
            if broadcast_budget_bytes is not None
            else _SHARD_BROADCAST_BYTES
        )
        est_bytes = shard.count() * _BYTES_PER_BAND_ROW
        join_mode = "broadcast" if est_bytes <= budget else "shuffle"
    # the SAME logical plan runs in both modes; only the join hint on
    # the shard-derived side changes. Shuffle mode pins SORT-MERGE
    # explicitly (not just "no broadcast hint"): an oversized shard
    # must never be broadcast even if Catalyst's size estimate is
    # stale-low, and the explicit hint makes the degraded plan
    # deterministic and testable.
    bc = (
        F.broadcast
        if join_mode == "broadcast"
        else (lambda df: df.hint("shuffle_merge"))
    )
    # explicit schema: a freshly-initialized EMPTY store has no data
    # files to infer from, and the first ingest must still run. The id
    # type is derived from the shard (write/append accept any id type,
    # so the read path must too).
    id_type = shard.schema[id_col].dataType.simpleString()
    store_schema = (
        f"{id_col} {id_type}, sig array<bigint>, bucket string, band int"
    )
    store = (
        spark.read.schema(store_schema)
        .parquet(path)
        .select(id_col, "sig", "band", "bucket")
    )
    shard_ids = shard.select(id_col).distinct()
    # re-offered ids: one signature row per side (band rows carry the
    # same sig), compared store-copy vs shard-copy
    replayed = (
        store.join(bc(shard_ids), id_col, "left_semi")
        .dropDuplicates([id_col])
        .select(id_col, F.col("sig").alias("sig_store"))
        .join(
            shard.dropDuplicates([id_col]).select(
                id_col, F.col("sig").alias("sig_shard")
            ),
            id_col,
        )
        .select(
            F.col(id_col).alias("id_a"),
            F.col(id_col).alias("id_b"),
            signature_jaccard(F.col("sig_store"), F.col("sig_shard")).alias(
                "jaccard_sig"
            ),
            F.lit("store").alias("vs"),
            F.col(id_col).alias("reject"),
        )
    )
    store_active = store.join(bc(shard_ids), id_col, "left_anti")

    # ---- bucket capping WITHOUT a corpus shuffle -------------------
    # The cap must count store + shard members per (band, bucket) —
    # the same totals a from-scratch run over the combined corpus
    # would see (the batch-equivalence tests pin this). Counting the
    # whole store would shuffle 100 TB; instead the store is first
    # FILTERED map-only (broadcast semi-join) to the buckets the shard
    # touches — all other buckets cannot produce pairs — and only that
    # bounded slice enters the count aggregate.
    shard_counts = (
        shard.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("__ns"))
    ).localCheckpoint(eager=False)
    touched = shard_counts.select("band", "bucket")
    store_touched = store_active.join(
        bc(touched), ["band", "bucket"], "left_semi"
    ).localCheckpoint(eager=False)
    store_counts = store_touched.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).alias("__nc")
    )
    ok_buckets = (
        shard_counts.join(store_counts, ["band", "bucket"], "left_outer")
        .where(
            F.col("__ns") + F.coalesce(F.col("__nc"), F.lit(0)) <= max_bucket
        )
        .select("band", "bucket")
    )
    shard_ok = shard.join(bc(ok_buckets), ["band", "bucket"], "left_semi")
    store_ok = store_touched.join(
        bc(ok_buckets), ["band", "bucket"], "left_semi"
    )

    # ---- candidate pairs: the store side NEVER shuffles ------------
    # shard bands broadcast into the store scan (BroadcastHashJoin) ->
    # shard-vs-store pairs stream out of the map side; shard-vs-shard
    # pairs come from the tiny shard self-join.
    sb = shard_ok.select(
        F.col(id_col).alias("__sid"), F.col("sig").alias("__ssig"),
        "band", "bucket",
    )
    # score BEFORE the pair dedupe (the minhash_candidates pattern):
    # the agreement is identical on every band copy of a pair, and
    # scoring first narrows the dropDuplicates exchange from two
    # 16-long signature arrays to one 8 B double per row
    store_pairs = (
        store_ok.join(bc(sb), ["band", "bucket"])
        .select(
            F.least(F.col(id_col), F.col("__sid")).alias("id_a"),
            F.greatest(F.col(id_col), F.col("__sid")).alias("id_b"),
            signature_jaccard(F.col("sig"), F.col("__ssig")).alias(
                "jaccard_sig"
            ),
            F.lit("store").alias("vs"),
            # the store copy is immutable precedent: always reject the
            # SHARD side, whichever of the pair's ids is greater
            F.col("__sid").alias("reject"),
        )
    )
    a = sb.select(
        F.col("__sid").alias("id_a"), F.col("__ssig").alias("sig_a"),
        "band", "bucket",
    )
    b = sb.select(
        F.col("__sid").alias("id_b"), F.col("__ssig").alias("sig_b"),
        "band", "bucket",
    )
    new_pairs = (
        a.join(b, ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            signature_jaccard(F.col("sig_a"), F.col("sig_b")).alias(
                "jaccard_sig"
            ),
            F.lit("new").alias("vs"),
            # shard-internal: canonical-survivor convention (keep-least)
            F.col("id_b").alias("reject"),
        )
    )
    scored = store_pairs.unionByName(new_pairs).dropDuplicates(
        ["id_a", "id_b"]
    )
    # id collisions are flagged UNCONDITIONALLY (identity, not content,
    # makes them duplicates — accepting a changed-text replay would
    # append a second store row under the same id)
    return scored.where(F.col("jaccard_sig") >= threshold).unionByName(
        replayed
    )
