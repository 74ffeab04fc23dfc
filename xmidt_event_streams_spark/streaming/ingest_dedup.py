"""Dedup-on-ingest: a streaming document source deduplicated against
the persistent corpus index, micro-batch by micro-batch.

Composes the streaming spine with operators/incremental.py: each
micro-batch is (1) marked against the index — prior corpus AND every
earlier batch of this stream, since survivors are appended — (2) its
unique docs land in the corpus sink and the index, (3) its duplicates
land in a rejects sink with the id they duplicate (the same
never-silently-drop posture as validation rejects and admission
shedding).

Delivery semantics, precisely: ``foreachBatch`` is at-least-once — a
crash between a sink write and the checkpoint commit replays the
batch. The corpus and rejects sinks are made IDEMPOTENT per batch:
rows are partitioned by the deterministic ``_ingest_batch_id`` and a
replay dynamically overwrites exactly its own partition, so reading
``corpus_path`` (row counts, training-shard writes) never
double-counts. The index append is not partition-overwritten (it is
bucket-prefix-partitioned for probe pruning); a replay re-appends
byte-identical signature rows, which cannot change any retention
verdict (candidate pairs are distinct, survivor rules are min-id) and
which ``compact_minhash_index`` reclaims. Net: retention verdicts are
exactly-once; the index is at-least-once-with-stable-verdicts. A doc
that duplicates something seen in ANY prior trigger is caught by the
index probe, which is what ``dropDuplicatesWithinWatermark`` cannot
do: its state is bounded by the watermark, while the index IS the
unbounded state, kept on storage instead of in executor memory.

Cold start: initialize the index with
``operators.incremental.init_minhash_index`` (or write_minhash_index
over an empty frame) — probes read the meta-derived explicit schema,
so an index with zero data files is a valid empty relation, not an
inference error.

Scale shape per trigger: signature the batch only (narrow), broadcast
its band keys against the prefix-partitioned index (big side never
shuffles, dynamic partition pruning prunes untouched directories),
two appends. Cost tracks batch size, never corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xmidt_event_streams_spark.operators.incremental import (
    append_to_minhash_index,
    incremental_dedup_mark,
)


def idempotent_batch_append(
    df: DataFrame, batch_id: int, path: str, max_files: int = 4
) -> None:
    """Per-batch idempotent sink write: partition by the
    (checkpoint-deterministic) batch id and dynamically overwrite ONLY
    that partition, so an at-least-once replay of batch N rewrites
    rows ``_ingest_batch_id=N`` in place instead of duplicating them.
    Other batches' partitions are untouched (dynamic overwrite mode is
    scoped to the partitions present in the write).

    ``max_files`` coalesces the write: the batch arrives from a join
    shuffle (spark.sql.shuffle.partitions tasks), and without
    coalescing every trigger would emit that many near-empty files --
    months of 15 s triggers at 100 TB means millions of small files.
    A micro-batch is small by definition, so a handful of writer tasks
    is the right shape; :func:`compact_ingest_sink` handles the
    long-horizon file count. The reject ledger (``app.run_app``) passes
    ``max_files=1``: its rows are a small share of one trigger, and one
    writer task per append is the cheapest write."""
    (
        df.coalesce(max_files)
        .withColumn("_ingest_batch_id", F.lit(batch_id))
        .write.option("partitionOverwriteMode", "dynamic")
        .partitionBy("_ingest_batch_id")
        .mode("overwrite")
        .parquet(path)
    )


def start_ingest_dedup(
    stream_df: DataFrame,
    index_path: str,
    corpus_path: str,
    rejects_path: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_agreement: float = 0.5,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    quality: str | None = None,
    invindex_path: str | None = None,
    invindex_buckets: int | None = None,
    availableNow: bool = False,
    trigger_seconds: int = 15,
    query_name: str | None = None,
):
    """Start the dedup-on-ingest query over a streaming document
    DataFrame. Returns the StreamingQuery.

    The index at ``index_path`` must exist (write_minhash_index over
    the prior corpus, or init_minhash_index for a cold start).
    Uniques land in ``corpus_path``; duplicates land in
    ``rejects_path`` with their ``dup_of`` id; both sinks are
    partitioned by ``_ingest_batch_id`` and per-batch idempotent.

    ``invindex_path``: also fold each batch's SURVIVORS into a
    positional inverted index (``invindex.append_to_inverted_index``)
    so phrase search and the takedown pre-filter
    (``takedown.takedown_phrases``'s ``phrase_candidates`` probe)
    stay fresh as the corpus grows — no full rebuild between batches.
    Initialize with ``invindex.init_inverted_index`` (cold start) or
    ``write_inverted_index`` over the prior corpus.
    ``invindex_buckets`` overrides the bucket count (default: the
    index's stamped value must match invindex.DEFAULT_BUCKETS).
    Replay posture matches the MinHash index: a replayed batch
    re-appends byte-identical posting rows, probe verdicts are
    unaffected (set-collect), ``compact_inverted_index`` reclaims.

    ``quality`` prepends a quality gate (``"gopher"``, ``"c4"``, or
    ``"gopher+c4"`` -- functions/quality.py): failing docs go to the
    rejects sink with ``reject_reason`` = the first failing rule and
    never reach the index; duplicate rejects carry
    ``reject_reason='duplicate'``. One sink, one ledger -- the full
    training-data admission pipeline (quality gate -> dedup gate) in
    a single checkpointed stream.

    ``quality`` may instead be a CALLABLE gate
    ``batch -> (passing, failing_or_None)`` where ``failing`` carries
    a ``reject_reason`` column -- the learned-gate protocol
    (operators/lm.lm_quality_gate, operators/classifier
    .nb_quality_gate, or corpus.chain_gates composing several). The
    gate runs inside every micro-batch, so model relations referenced
    in its closure join batch-sized inputs (broadcast-friendly).
    """
    if not (
        quality in (None, "gopher", "c4", "gopher+c4") or callable(quality)
    ):
        raise ValueError(
            f"quality must be None|gopher|c4|gopher+c4|callable, "
            f"got {quality!r}"
        )

    def _quality_split(batch: DataFrame):
        """(passing, failing-with-reason); None quality passes all."""
        if quality is None:
            return batch, None
        if callable(quality):
            return quality(batch)
        from xmidt_event_streams_spark.functions.quality import (
            c4_keep,
            gopher_keep,
        )

        reason = F.lit(None).cast("string")
        if "gopher" in quality:
            _, g_reason = gopher_keep(text_col)
            reason = F.coalesce(reason, g_reason)
        if "c4" in quality:
            _, c_reason = c4_keep(text_col)
            reason = F.coalesce(reason, c_reason)
        marked = batch.withColumn("_q_reason", reason)
        passing = marked.filter(F.col("_q_reason").isNull()).drop("_q_reason")
        failing = marked.filter(F.col("_q_reason").isNotNull()).withColumn(
            "reject_reason", F.col("_q_reason")
        ).drop("_q_reason")
        return passing, failing

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # one probe per batch; persist so marks feed both sinks
        # without re-running the index join
        batch = batch_df.persist()
        try:
            if batch.isEmpty():
                return
            candidates, q_rejects = _quality_split(batch)
            marks = incremental_dedup_mark(
                spark,
                index_path,
                candidates,
                min_agreement=min_agreement,
                text_col=text_col,
                id_col=id_col,
                num_hashes=num_hashes,
                bands=bands,
                shingle_n=shingle_n,
            ).persist()
            try:
                uniques = candidates.join(
                    marks.filter("is_unique").select(id_col), id_col
                )
                rejects = candidates.join(
                    marks.filter("NOT is_unique").select(id_col, "dup_of"),
                    id_col,
                ).withColumn("reject_reason", F.lit("duplicate"))
                if q_rejects is not None:
                    rejects = rejects.unionByName(
                        q_rejects.withColumn(
                            "dup_of", F.lit(None).cast(
                                dict(candidates.dtypes)[id_col]
                            )
                        ),
                        allowMissingColumns=False,
                    )
                idempotent_batch_append(uniques, batch_id, corpus_path)
                idempotent_batch_append(rejects, batch_id, rejects_path)
                if invindex_path is not None:
                    from xmidt_event_streams_spark.operators.invindex import (
                        DEFAULT_BUCKETS,
                        append_to_inverted_index,
                    )

                    # BEFORE the minhash append: `uniques` is a plan
                    # over the minhash-index read, resolved against
                    # THIS trigger's file listing -- executing it
                    # after the append re-lists a changed directory
                    # (partition-schema mismatch on a cold-start
                    # index's first batch). The inverted index never
                    # reads the minhash index, so this order is safe,
                    # and a crash between the two appends replays to
                    # identical verdicts + byte-identical re-appends.
                    append_to_inverted_index(
                        uniques,
                        invindex_path,
                        id_col=id_col,
                        text_col=text_col,
                        n_buckets=invindex_buckets or DEFAULT_BUCKETS,
                    )
                # survivors join the index so later triggers (and
                # later batches' intra-stream dups) see them; LAST --
                # every other consumer of `uniques` has run by now
                append_to_minhash_index(
                    uniques,
                    index_path,
                    text_col=text_col,
                    id_col=id_col,
                    num_hashes=num_hashes,
                    bands=bands,
                    shingle_n=shingle_n,
                )
            finally:
                marks.unpersist()
        finally:
            batch.unpersist()

    writer = stream_df.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint_dir
    )
    if query_name:
        writer = writer.queryName(query_name)
    if availableNow:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def compact_ingest_sink(
    spark,
    path: str,
    batches_per_partition: int = 1_000,
) -> dict:
    """Maintenance-window compaction for an ingest sink: merge
    fine-grained ``_ingest_batch_id`` partitions into coarse groups
    (floor(batch_id / batches_per_partition) * batches_per_partition),
    keeping the partition column -- the running writer's contract is
    unchanged.

    Replay safety: Structured Streaming can only ever replay the
    LATEST uncommitted batch, so every batch id below the maximum
    present is final and safe to merge; the newest batch's partition
    is left untouched so an in-flight replay still overwrites exactly
    its own rows. Run while the stream is stopped (same posture as
    compact_minhash_index): the swap is delete + rename.

    Snapshot preservation: the original batch id survives compaction
    as the ``_src_batch_id`` DATA column (coalesced from any prior
    compaction's column, so repeated compactions keep the earliest
    id), which is what lets ``read_sink_as_of`` reconstruct an exact
    as-of-batch-N snapshot after partitions have been merged.

    Returns {"files_before", "files_after", "rows"} for alerting.
    """
    from xmidt_event_streams_spark.fsutil import (
        count_data_files,
        swap_into_place,
    )

    # mergeSchema: after a prior compaction, _src_batch_id exists only
    # in compacted files until the next rewrite unifies the schema
    df = spark.read.option("mergeSchema", "true").parquet(path)
    max_id = df.agg(F.max("_ingest_batch_id")).collect()[0][0]
    if max_id is None:
        return {"files_before": 0, "files_after": 0, "rows": 0}

    files_before = count_data_files(spark, path)
    g = batches_per_partition
    src = (
        F.coalesce(F.col("_src_batch_id"), F.col("_ingest_batch_id"))
        if "_src_batch_id" in df.columns
        else F.col("_ingest_batch_id")
    )
    compacted = df.withColumn("_src_batch_id", src).withColumn(
        "_ingest_batch_id",
        F.when(
            F.col("_ingest_batch_id") < max_id,
            (F.floor(F.col("_ingest_batch_id") / g) * g).cast("long"),
        ).otherwise(F.col("_ingest_batch_id")),
    )
    tmp = path.rstrip("/") + "__compact_tmp"
    (
        compacted.repartition(F.col("_ingest_batch_id"))
        .write.partitionBy("_ingest_batch_id")
        .mode("overwrite")
        .parquet(tmp)
    )
    rows = spark.read.parquet(tmp).count()
    files_after = count_data_files(spark, tmp)
    swap_into_place(spark, tmp, path)
    return {
        "files_before": files_before,
        "files_after": files_after,
        "rows": rows,
    }


def read_sink_as_of(spark, path: str, batch_id: int):
    """Exact snapshot of an ingest sink as of micro-batch
    ``batch_id`` (inclusive) -- time travel over the batch-partitioned
    layout, before OR after compaction.

    Two filters compose:

      * ``_ingest_batch_id <= batch_id`` on the PARTITION column --
        plan-time partition pruning skips every later batch/group
        directory (a compaction group's partition value is its
        smallest member id, so a group straddling ``batch_id`` is
        kept and row-filtered);
      * ``coalesce(_src_batch_id, _ingest_batch_id) <= batch_id`` on
        the DATA column -- exact row-level cut inside a straddling
        group (``_src_batch_id`` is preserved by
        ``compact_ingest_sink``; uncompacted files predate the column
        and fall back to their partition value via schema-merge
        nulls).

    The helper columns are dropped: the result is the corpus exactly
    as a reader would have seen it after batch N committed.
    """
    df = spark.read.option("mergeSchema", "true").parquet(path)
    pruned = df.filter(F.col("_ingest_batch_id") <= batch_id)
    if "_src_batch_id" in df.columns:
        pruned = pruned.filter(
            F.coalesce(F.col("_src_batch_id"), F.col("_ingest_batch_id"))
            <= batch_id
        )
    drop = [c for c in ("_ingest_batch_id", "_src_batch_id") if c in df.columns]
    return pruned.drop(*drop)
