"""Structured Streaming wrapper over the batch kernels (SURVEY.md §2.10).

The reference is a synchronous request library — it has NO streaming
operator surface; its only asynchrony is a threadpool. This module is the
micro-batch extension the survey names as the natural v2: the SAME
geotag-extraction + cell-index kernels run under ``readStream``, with
event-time watermarks and windowed per-tile aggregation for late data.

Everything here composes built-ins where built-ins suffice: the extraction
kernel is the identical ``mapInPandas`` used in batch (kernel reuse is the
point), the aggregation is a watermarked groupBy — Spark maintains the
state store, no custom stateful operator is needed for tile counting. The
one genuinely stateful operator is ``stream_latest_tile_updates`` (a
cross-batch latest-wins change feed), which needs per-key state that
outlives the micro-batch and runs as ``applyInPandasWithState``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.cells import encode_cells
from ..sources.pages import extract_geotags


def streaming_tile_counts(pages_stream: DataFrame, zoom: int = 10,
                          window_duration: str = "1 minute",
                          watermark: str = "2 minutes") -> DataFrame:
    """pages stream → geotags → cells → windowed per-tile page counts.

    Late pages beyond the watermark are dropped by the state store; the
    output is append-ready per (window, cell).
    """
    geo = extract_geotags(pages_stream).filter(F.col("lat").isNotNull())
    cells = encode_cells(geo, zoom)
    return (
        cells
        .withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window_duration).alias("w"),
                 F.col("cell"), F.col("tile_x"), F.col("tile_y"))
        .agg(F.count("*").alias("n_pages"),
             F.approx_count_distinct("lang").alias("n_langs"))
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "cell", "tile_x", "tile_y", "n_pages", "n_langs")
    )


def run_file_stream(spark, source_dir: str, checkpoint_dir: str, zoom: int = 10,
                    table_name: str = "tile_counts_stream") -> None:
    """Drive the stream from a parquet directory (availableNow → finishes
    when the backlog is drained; checkpointed → resumable)."""
    from ..schema import PAGES_SCHEMA

    stream = spark.readStream.schema(PAGES_SCHEMA).parquet(source_dir)
    out = streaming_tile_counts(stream, zoom)
    q = (out.writeStream
         .format("memory")
         .queryName(table_name)
         .outputMode("complete")
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()


def streaming_encode_tiles(spark, features_dir: str, targets: DataFrame,
                           sink_dir: str, checkpoint_dir: str,
                           src_zoom: int | None = None) -> None:
    """Continuous tile MATERIALIZATION: a stream of feature rows
    (FEATURES_SCHEMA parquet landing in ``features_dir``) → per
    micro-batch fused composite→encode → append-only parquet of
    (z, x, y, tile) in ``sink_dir``. Checkpointed: a restart resumes at
    the first unprocessed file.

    The kernels are the batch ones via ``foreachBatch`` (kernel reuse, as
    everywhere in this module). CONTRACT: tiles are encoded per
    micro-batch, so a SOURCE tile's features must arrive within one
    micro-batch — true for tileset ingestion, where each source tile's
    rows land as one atomic file; features for the same TARGET from
    different source tiles across batches produce one output row per
    batch. The reader contract is CODE: ``latest_tiles`` (latest epoch
    per (z, x, y) wins) and ``compact_tile_log`` (rewrite to one row per
    tile).

    IDEMPOTENT under micro-batch replay: each epoch OVERWRITES its own
    ``epoch=N`` partition directory, so a retry after a crash between the
    parquet write and the streaming commit rewrites identical data
    instead of appending duplicate (z, x, y) rows at the same epoch.
    """
    from ..operators.composite import composite_encode_tiles
    from ..schema import FEATURES_SCHEMA

    stream = spark.readStream.schema(FEATURES_SCHEMA).parquet(features_dir)
    src_zooms = [src_zoom] if src_zoom is not None else None

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        out = composite_encode_tiles(batch_df, targets, src_zooms=src_zooms)
        out.write.mode("overwrite").parquet(f"{sink_dir}/epoch={epoch_id}")

    q = (stream.writeStream
         .foreachBatch(process)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()


def stream_latest_tile_updates(tiles_stream: DataFrame) -> DataFrame:
    """Cross-batch latest-wins CHANGE FEED over a tile-log stream.

    ``latest_tiles`` below is the log's reader contract (max epoch per
    tile wins); this is the same contract pushed INTO the stream: one
    output row per (z, x, y) per micro-batch IFF that batch raised the
    tile's maximum epoch ever seen. A superseding re-materialization
    emits its new bytes; a stale or duplicate arrival (micro-batch
    replay, out-of-order backfill, a re-delivered epoch) emits NOTHING.
    Downstream consumers — tile-cache invalidation, CDN push — see
    exactly the winner transitions, in arrival order.

    This is the module's one custom stateful operator because the
    built-ins cannot express it: append-mode "emit only improvements
    over ALL history" needs per-key state that outlives the micro-batch
    (``dropDuplicates`` cannot supersede, windowed aggs emit on
    watermark close, not on arrival). It runs as
    ``applyInPandasWithState`` keyed by tile address; the state is the
    max epoch seen — ONE long per distinct tile, the blobs only ride
    the batch and never enter the state store. Scale: a full z14 planet
    pyramid is ~3.6e8 keys ≈ tens of GB of state across the cluster —
    configure the RocksDB state store provider at that scale; the
    per-key work is O(rows in batch for that key).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def emit(key, pdfs, state):
        import pandas as pd

        best = None
        for pdf in pdfs:
            if not len(pdf):
                continue
            row = pdf.loc[pdf["epoch"].idxmax()]
            if best is None or int(row["epoch"]) > int(best["epoch"]):
                best = row
        prev = state.get[0] if state.exists else None
        if best is not None and (prev is None or int(best["epoch"]) > prev):
            state.update((int(best["epoch"]),))
            yield pd.DataFrame([{
                "z": int(key[0]), "x": int(key[1]), "y": int(key[2]),
                "epoch": int(best["epoch"]), "tile": best["tile"]}])

    return (tiles_stream
            .groupBy("z", "x", "y")
            .applyInPandasWithState(
                emit,
                outputStructType="z int, x long, y long, "
                                 "epoch long, tile binary",
                stateStructType="max_epoch long",
                outputMode="append",
                timeoutConf=GroupStateTimeout.NoTimeout))


def run_tile_update_stream(spark, sink_dir: str, out_dir: str,
                           checkpoint_dir: str,
                           max_files_per_trigger: int | None = None) -> None:
    """Drive the change feed over a tile-log directory (the
    ``streaming_encode_tiles`` sink): drain what is currently available
    (``availableNow``) into an append-only parquet feed of winner
    transitions at ``out_dir``. Checkpointed: a later call with the same
    checkpoint resumes the per-tile state, so re-delivered stale epochs
    stay suppressed across restarts (the memory sink cannot recover a
    checkpoint; the file sink's exactly-once log can)."""
    reader = spark.readStream.schema(
        "z int, x long, y long, tile binary, epoch long")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(sink_dir)
    out = stream_latest_tile_updates(stream)
    q = (out.writeStream
         .format("parquet")
         .option("path", out_dir)
         .outputMode("append")
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()


def latest_tiles(spark, sink_dir: str) -> DataFrame:
    """The tile log's reader contract AS CODE: one row per (z, x, y) — the
    LATEST epoch wins (a later micro-batch that re-materialized a target
    supersedes the earlier bytes).

    Winner selection is a keys-only max-epoch aggregate (map-side
    combine) followed by a semi-join, so the tile BLOBS
    never shuffle — only the 4 key columns do. The semi-join carries no
    hint: AQE sizes it, which stays safe for a planet-pyramid winner set.
    """
    log = spark.read.parquet(sink_dir)
    winners = log.groupBy("z", "x", "y").agg(F.max("epoch").alias("epoch"))
    return log.join(winners, on=["z", "x", "y", "epoch"], how="left_semi")


def compact_tile_log(spark, sink_dir: str, out_dir: str | None = None) -> None:
    """Rewrite the append-only tile log to ONE row per (z, x, y): the
    ``latest_tiles`` winners, written as a single ``epoch=<max>`` partition
    so the log keeps its shape — ``streaming_encode_tiles`` resumed against
    the same checkpoint continues appending strictly-higher epochs, and
    ``latest_tiles`` over the compacted log is unchanged.

    ``out_dir=None`` compacts IN PLACE via a temp sibling + swap (driver
    filesystem ops — right for posix paths; pass ``out_dir`` explicitly on
    object stores, where a rename is not atomic).
    """
    import os
    import shutil

    latest = latest_tiles(spark, sink_dir)
    max_epoch = latest.agg(F.max("epoch")).first()[0]
    if max_epoch is None:
        return  # empty log — nothing to compact
    if out_dir is not None:
        latest.drop("epoch").write.mode("overwrite") \
            .parquet(f"{out_dir}/epoch={max_epoch}")
        return
    tmp = sink_dir.rstrip("/") + ".compacting"
    old = sink_dir.rstrip("/") + ".old"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    # materialize fully BEFORE touching the original (the write is the
    # action; after it returns the plan no longer reads sink_dir)
    latest.drop("epoch").write.mode("overwrite") \
        .parquet(f"{tmp}/epoch={max_epoch}")
    # swap via rename-aside, NOT rmtree-then-rename: a crash between a
    # delete and the rename would leave no readable log at sink_dir (data
    # alive only under the temp name). Here every crash point leaves the
    # full data one rename away, and the log-absent window is two renames,
    # not a recursive delete.
    os.rename(sink_dir, old)
    os.rename(tmp, sink_dir)
    shutil.rmtree(old)


def stream_dedupe_docs(docs_stream: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", key=None) -> DataFrame:
    """Cross-batch streaming EXACT dedupe over a document stream: emit a
    document the FIRST time its content fingerprint (md5 of the text) is
    seen in the stream's entire history; every later duplicate — inside
    the same micro-batch (lowest id wins, matching the batch
    ``dedupe.exact_dedupe`` keep rule), in a later batch, or replayed
    across a checkpointed restart — emits NOTHING. This is the dedupe
    semantics an INCREMENTAL corpus build needs: batch exact_dedupe
    re-ranks the whole corpus per run (a later crawl could steal a keep
    from an earlier one); the stream contract is first-arrival-wins,
    stable as history grows.

    Stateful for the same reason as ``stream_latest_tile_updates``:
    "emit only if never seen before across ALL history" needs per-key
    state that outlives the micro-batch (``dropDuplicates`` on a stream
    state-times-out with the watermark and cannot span restarts).
    Runs as ``applyInPandasWithState`` keyed by the fingerprint; state =
    the keeper's id, ONE long per distinct document text — document
    BLOBS ride the batch and never enter the state store. At corpus
    scale the state is rows ∝ distinct texts: configure the RocksDB
    state store provider, same as the tile feed.

    Returns (fingerprint, id, text) rows — the kept documents only.

    ``key`` overrides the dedupe identity: any deterministic Column
    expression over the stream's rows (default md5 of ``text_col``).
    ``stream_dedupe_urls`` uses this to run the same state machine as a
    streaming CRAWL FRONTIER keyed by canonical URL.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def emit(key, pdfs, state):
        import pandas as pd

        best = None
        for pdf in pdfs:
            if not len(pdf):
                continue
            row = pdf.loc[pdf[id_col].idxmin()]
            if best is None or int(row[id_col]) < int(best[id_col]):
                best = row
        if best is not None and not state.exists:
            state.update((int(best[id_col]),))
            yield pd.DataFrame([{
                "fingerprint": key[0], id_col: int(best[id_col]),
                text_col: best[text_col]}])

    keyed = docs_stream.withColumn(
        "fingerprint", F.md5(F.col(text_col)) if key is None else key)
    return (keyed.groupBy("fingerprint")
            .applyInPandasWithState(
                emit,
                outputStructType=f"fingerprint string, {id_col} long, "
                                 f"{text_col} string",
                stateStructType="keep_id long",
                outputMode="append",
                timeoutConf=GroupStateTimeout.NoTimeout))


def run_doc_dedupe_stream(spark, source_dir: str, out_dir: str,
                          checkpoint_dir: str, id_col: str = "doc_id",
                          text_col: str = "text",
                          max_files_per_trigger: int | None = None) -> None:
    """Drive ``stream_dedupe_docs`` over a documents directory: drain
    what is currently available (``availableNow``) into an append-only
    parquet corpus of first-seen documents at ``out_dir``. Checkpointed:
    a later call with the same checkpoint resumes the fingerprint state,
    so duplicates and replayed files stay suppressed across restarts."""
    reader = spark.readStream.schema(f"{id_col} long, {text_col} string")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)
    out = stream_dedupe_docs(stream, id_col=id_col, text_col=text_col)
    q = (out.writeStream
         .format("parquet")
         .option("path", out_dir)
         .outputMode("append")
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()


def stream_sessionize(events_stream: DataFrame,
                      gap_us: int | None = None,
                      user_col: str = "user_id", ts_col: str = "ts",
                      id_col: str = "event_id") -> DataFrame:
    """Cross-batch streaming sessionization: assign every event its
    user-scoped 1-based session ordinal under the same gap rule as the
    batch ``sessions.sessionize`` — a session stays OPEN across
    micro-batches until ``gap_us`` of event time passes, so feeding the
    same ordered log through any micro-batch slicing yields the exact
    batch assignment (the stream==batch test pins it).

    Stateful because "is this event a continuation?" depends on the
    user's last event in ALL history: state = (last_ts_us, session
    ordinal) — two longs per user, the minimal carry; event payloads
    ride the batch and never enter the state store.

    Contract: events must arrive in non-decreasing EVENT-TIME order per
    user across batches (the tail of a per-user-ordered log or queue
    partition — the natural shape for this operator). An out-of-order
    arrival RAISES rather than silently mis-assigning: late data needs
    the batch operator over a corrected log, not a quiet wrong answer.

    The epoch is computed JVM-side from the NTZ timestamp's fields
    (the latest_snapshot discipline) BEFORE the stateful seam; inside
    the kernel the per-batch assignment is one numpy diff + cumsum —
    no per-event Python.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..operators.sessions import DEFAULT_GAP_US, _epoch_us

    gap = DEFAULT_GAP_US if gap_us is None else gap_us
    if gap < 0:
        raise ValueError("gap_us must be >= 0")

    def emit(key, pdfs, state):
        import numpy as np
        import pandas as pd

        rows = [p for p in pdfs if len(p)]
        if not rows:
            return
        pdf = (pd.concat(rows).sort_values(["_ts", id_col])
               .reset_index(drop=True))
        last, sess = state.get if state.exists else (None, 0)
        ts = pdf["_ts"].to_numpy(dtype=np.int64)
        if last is not None and int(ts[0]) < last:
            raise ValueError(
                f"stream_sessionize: out-of-order event for user "
                f"{key[0]!r}: ts_us {int(ts[0])} < last seen {last}; "
                "events must arrive in event-time order per user")
        brk = np.empty(len(ts), dtype=np.int64)
        brk[0] = 1 if last is None else int(int(ts[0]) - last > gap)
        if len(ts) > 1:
            brk[1:] = (np.diff(ts) > gap).astype(np.int64)
        sids = sess + np.cumsum(brk)
        state.update((int(ts[-1]), int(sids[-1])))
        yield pd.DataFrame({
            id_col: pdf[id_col], user_col: key[0],
            "ts_us": pdf["_ts"], "session_id": sids})

    keyed = events_stream.select(
        F.col(id_col), F.col(user_col), _epoch_us(ts_col).alias("_ts"))
    return (keyed.groupBy(user_col)
            .applyInPandasWithState(
                emit,
                outputStructType=f"{id_col} long, {user_col} long, "
                                 "ts_us long, session_id long",
                stateStructType="last_ts_us long, sess long",
                outputMode="append",
                timeoutConf=GroupStateTimeout.NoTimeout))


def run_sessionize_stream(spark, source_dir: str, out_dir: str,
                          checkpoint_dir: str,
                          gap_us: int | None = None,
                          user_col: str = "user_id", ts_col: str = "ts",
                          id_col: str = "event_id") -> None:
    """Drive ``stream_sessionize`` over an events directory
    (``availableNow`` drain into an append-only parquet assignment log;
    the checkpoint carries the per-user open-session state, so a later
    call continues sessions across process restarts)."""
    stream = (spark.readStream
              .schema(f"{id_col} long, {user_col} long, {ts_col} timestamp")
              .parquet(source_dir))
    out = stream_sessionize(stream, gap_us=gap_us, user_col=user_col,
                            ts_col=ts_col, id_col=id_col)
    q = (out.writeStream
         .format("parquet")
         .option("path", out_dir)
         .outputMode("append")
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()


def stream_dedupe_urls(url_stream: DataFrame, id_col: str = "doc_id",
                       url_col: str = "url") -> DataFrame:
    """Streaming CRAWL FRONTIER: emit a URL the first time its CANONICAL
    form (functions.text.canonicalize_url_col — https/www/port/fragment/
    tracking-param normal form) enters the stream's history; later
    spellings of the same page — other schemes, tracking params, replays
    across checkpointed restarts — emit nothing. The batch twin is
    ``dedupe.url_dedupe`` (min-id rule WITHIN one corpus); the stream
    contract is first-arrival-wins so earlier frontier grants never
    move. Same state machine as ``stream_dedupe_docs``: one long per
    distinct canonical URL, URL strings never enter the state store."""
    from ..functions.text import canonicalize_url_col

    return stream_dedupe_docs(url_stream, id_col=id_col, text_col=url_col,
                              key=canonicalize_url_col(F.col(url_col)))
