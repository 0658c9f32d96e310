"""Structured Streaming ingestion: readStream over the pages table ->
the SAME batched extraction UDF -> append sink (SURVEY.md §2.5 streaming
row: "the batch UDF is reusable unchanged — this is the idiomatic Spark
dividend").

Shapes provided:

- ``stream_extract``: file-source stream over a pages parquet directory,
  fused extraction per micro-batch, append to parquet + checkpoint dir
  (exactly-once via the sink's write-ahead commit log). ``Trigger.
  AvailableNow`` drains existing data and stops — the test/backfill mode;
  omit for continuous tailing.

- ``stream_event_counts``: watermarked tumbling-window aggregation over
  ``warc_ts`` (late data beyond the watermark dropped) — the classic
  stateful-streaming operator, batch twin is ``qr22`` in the relational
  matrix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from pdf_spark.operators.extract import extract_docs_text

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)


def read_pages_stream(spark: SparkSession, pages_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(pages_dir)
    )


def stream_extract(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    observe: bool = False,
):
    """Start the streaming extraction; returns the StreamingQuery.

    With ``observe=True`` the plan carries a Dataset.observe() node named
    ``extract_metrics`` (n_docs / n_ok / n_err per micro-batch): the
    accumulator-backed metrics surface in every StreamingQueryProgress
    under ``observedMetrics`` — the zero-extra-pass monitoring hook a
    production pipeline alarms on (an extra count() per batch would
    re-run the whole Arrow extract; observe costs one accumulator
    update inside the pass that already runs)."""
    stream = read_pages_stream(spark, pages_dir)
    docs = extract_docs_text(stream)
    if observe:
        docs = docs.observe(
            "extract_metrics",
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("status") == "ok").cast("long")).alias("n_ok"),
            F.sum((F.col("status") != "ok").cast("long")).alias("n_err"),
        )
    writer = (
        docs.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_event_counts(
    spark: SparkSession, pages_dir: str, watermark: str = "10 minutes"
) -> DataFrame:
    """Watermarked tumbling-window doc counts per lang (unstarted DF)."""
    stream = read_pages_stream(spark, pages_dir)
    return (
        stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", "1 hour").alias("win"), "lang")
        .agg(F.count("*").alias("n_docs"))
        .select("win.start", "win.end", "lang", "n_docs")
    )


def stream_dedup_exact(
    spark: SparkSession, pages_dir: str, watermark: str = "1 hour"
) -> DataFrame:
    """Streaming exact dedup on the content fingerprint within the
    watermark horizon (``dropDuplicatesWithinWatermark``): a re-crawled /
    mirrored page arriving inside the horizon is dropped; state older than
    the watermark is evicted, so dedup state stays bounded at any corpus
    rate — the streaming twin of qt01. Returns the unstarted DataFrame."""
    stream = read_pages_stream(spark, pages_dir)
    return (
        stream.withColumn("fingerprint", F.md5(F.col("html")))
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["fingerprint"])
        .select("url", "warc_ts", "fingerprint")
    )


def stream_sessionize(
    spark: SparkSession,
    pages_dir: str,
    gap: str = "30 minutes",
    watermark: str = "1 minute",
) -> DataFrame:
    """Streaming gap-based sessionization — the streaming twin of the
    batch qr23 cascade — via the built-in ``session_window``: per ``lang``,
    rows closer than ``gap`` merge into one session; a quiet period longer
    than ``gap`` closes it. Session state is evicted once the watermark
    passes a session's end, so state is bounded by (active keys x open
    sessions) at ANY corpus rate — the property the batch lag/running-sum
    form cannot give a continuous crawl. Append mode emits each session
    exactly once, when it closes. Returns the unstarted DataFrame."""
    stream = read_pages_stream(spark, pages_dir)
    return (
        stream.withWatermark("warc_ts", watermark)
        .groupBy(F.session_window("warc_ts", gap).alias("sess"), "lang")
        .agg(F.count("*").alias("n_docs"))
        .select("sess.start", "sess.end", "lang", "n_docs")
    )


def stream_lang_running_stats(spark: SparkSession, pages_dir: str) -> DataFrame:
    """Custom STATEFUL streaming operator via ``applyInPandasWithState``:
    running per-``lang`` document count + byte total, carried across
    micro-batches in explicit group state (the shape any bespoke stateful
    extraction-side aggregator — e.g. per-domain crawl budgets or
    dedup-bloom counters — takes at 100 TB).

    Returns the unstarted stateful DataFrame; start with
    ``.writeStream.outputMode("update")``.
    """
    from typing import Iterator, Tuple

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = read_pages_stream(spark, pages_dir).select(
        "lang", F.length("html").alias("nbytes")
    )

    def update(
        key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n_docs, total_bytes = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n_docs += len(pdf)
            total_bytes += int(pdf["nbytes"].fillna(0).sum())
        state.update((n_docs, total_bytes))
        yield pd.DataFrame(
            {"lang": [key[0]], "n_docs": [n_docs], "total_bytes": [total_bytes]}
        )

    # not map_records: stateful across micro-batches
    return stream.groupBy("lang").applyInPandasWithState(
        update,
        outputStructType="lang string, n_docs long, total_bytes long",
        stateStructType="n_docs long, total_bytes long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_neardup_minhash(
    spark: SparkSession,
    pages_dir: str,
    watermark: str = "1 hour",
    min_matching_slices: int = 6,
    bucket_cap: int = 64,
) -> DataFrame:
    """Streaming NEAR-duplicate detection — the stateful twin of the batch
    MinHash-LSH chain (qt05 -> qt06 -> qt11).

    The whole signature is computed MAP-SIDE before any state: word
    3-shingles -> one md5 per shingle -> 8 disjoint 32-bit slices, each
    minimized over the shingle array with ``array_min(transform(...))``
    (no explode, no pre-aggregation — the stream stays single-stateful-op).
    The first slice is the LSH band key: near-duplicates collide there with
    the usual single-band recall, and ``applyInPandasWithState`` keeps each
    bucket's previously-seen 7-slice signatures in explicit group state. An
    arrival is flagged ``is_dup`` when >= ``min_matching_slices`` of its 7
    remaining slices match a stored signature (a Jaccard estimate, exactly
    the qt11 candidates-then-verify shape with the verify folded into the
    bucket).

    State is bounded two ways, which is what makes this runnable forever
    at crawl rate: per-bucket signature list capped at ``bucket_cap``
    (FIFO — a bucket that hot is a mirror farm, every later arrival in it
    is a dup anyway), and idle buckets evicted by EventTimeTimeout one
    ``watermark`` horizon after their last arrival — the same horizon
    ``dropDuplicatesWithinWatermark`` uses for exact dedup.
    Returns the unstarted DataFrame; start with outputMode("append").
    """
    from typing import Iterator, Tuple

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    n_slices = 8
    sig_expr = (
        "transform(sequence(0, {k}), j -> "
        "array_min(transform(shingles, s -> substring(md5(s), 1 + 8 * j, 8))))"
    ).format(k=n_slices - 1)

    stream = (
        read_pages_stream(spark, pages_dir)
        .where(F.col("text").isNotNull())
        .withColumn("toks", F.split(F.col("text"), " "))
        .where(F.size("toks") >= 3)
        .withColumn(
            "shingles",
            F.expr(
                "transform(sequence(1, size(toks) - 2),"
                " i -> concat_ws(' ', slice(toks, i, 3)))"
            ),
        )
        .withColumn("sig", F.expr(sig_expr))
        .withColumn("band", F.element_at("sig", 1))
        .withColumn("rest", F.concat_ws(",", F.expr("slice(sig, 2, 7)")))
        .withWatermark("warc_ts", watermark)
        .select("band", "url", "warc_ts", "rest")
    )

    # state-eviction horizon mirrors the watermark string ("N unit" forms)
    _qty, _unit = watermark.split()
    horizon_ms = int(_qty) * {
        "second": 1000, "seconds": 1000,
        "minute": 60_000, "minutes": 60_000,
        "hour": 3_600_000, "hours": 3_600_000,
        "day": 86_400_000, "days": 86_400_000,
    }[_unit.lower()]

    def update(
        key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        (sigs,) = state.get if state.exists else ([],)
        sigs = list(sigs)
        out = {"url": [], "warc_ts": [], "band": [], "is_dup": [], "n_prior": []}
        for pdf in pdfs:
            for url, ts, rest in zip(pdf["url"], pdf["warc_ts"], pdf["rest"]):
                mine = rest.split(",")
                dup = any(
                    sum(a == b for a, b in zip(mine, s.split(",")))
                    >= min_matching_slices
                    for s in sigs
                )
                out["url"].append(url)
                out["warc_ts"].append(ts)
                out["band"].append(key[0])
                out["is_dup"].append(dup)
                out["n_prior"].append(len(sigs))
                sigs.append(rest)
                if len(sigs) > bucket_cap:
                    sigs = sigs[-bucket_cap:]
        state.update((sigs,))
        state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + horizon_ms)
        yield pd.DataFrame(out)

    # not map_records: stateful across micro-batches
    return stream.groupBy("band").applyInPandasWithState(
        update,
        outputStructType=(
            "url string, warc_ts timestamp, band string,"
            " is_dup boolean, n_prior long"
        ),
        stateStructType="sigs array<string>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


_EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string,"
    " value double, props string"
)


def stream_interval_join(
    spark: SparkSession,
    events_dir: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """STREAM-STREAM interval join (the attribution join, live): purchases
    join views by user within one hour AFTER the view. Both sides carry
    watermarks and the join condition bounds event time in BOTH
    directions, so Spark can evict buffered state for rows no future
    match can reach — without the bound, stream-stream join state grows
    forever. This is the streaming twin of the batch bucketed range join
    (qr26): same semantics, state-bounded incremental execution. Returns
    the unstarted DataFrame."""
    views = (
        spark.readStream.schema(_EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(events_dir)
        .where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", watermark)
    )
    purchases = (
        spark.readStream.schema(_EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(events_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    joined = purchases.join(
        views,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("p_ts") < F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    )
    return joined.select(
        "purchase_id", F.col("p_user").alias("user_id"), "view_id"
    )


def upsert_batch(docs_batch: DataFrame, batch_id: int, out_dir: str) -> bool:
    """Idempotent micro-batch writer for non-transactional sinks.

    Structured Streaming replays a micro-batch after failure with the
    SAME batch_id; a sink without transactional append (JDBC, plain
    object-store prefix) must make the replay a no-op itself. The
    standard recipe, implemented here: (1) a committed-marker check
    keyed by batch_id short-circuits replays of finished batches;
    (2) the data write is mode("overwrite") into a batch_id-suffixed
    prefix, so replaying a HALF-written batch overwrites the partial
    output instead of appending next to it; (3) the marker is created
    only after the write returns — write-then-commit order is what makes
    the pair exactly-once. Returns True if the batch was written, False
    if it was a replay skip."""
    import os

    marker_dir = os.path.join(out_dir, "_committed")
    os.makedirs(marker_dir, exist_ok=True)
    marker = os.path.join(marker_dir, str(batch_id))
    if os.path.exists(marker):  # replayed, already fully committed
        return False
    (
        docs_batch.write.mode("overwrite")
        .parquet(os.path.join(out_dir, f"batch_id={batch_id}"))
    )
    with open(marker, "w") as f:
        f.write("ok")
    return True


def stream_extract_upsert(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Streaming extraction through a foreachBatch exactly-once upsert
    sink (the deployment shape when the sink is not a transactional
    file sink — e.g. a warehouse table). Batch twin: stream_extract."""
    stream = read_pages_stream(spark, pages_dir)
    docs = extract_docs_text(stream)
    return (
        docs.writeStream.foreachBatch(
            lambda df, bid: upsert_batch(df, bid, out_dir)
        )
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_enrich_static(
    spark: SparkSession, pages_dir: str, dim: DataFrame
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch of extracted docs
    broadcast-joins a STATIC dimension (here: a per-lang policy table —
    sampling weight + quality floor, the shape of every "join the crawl
    stream to the allowlist/config/centroid table" step). Stream-static
    joins keep NO state (the static side is just re-joined per batch),
    so this is the zero-state enrichment path — at 10^12 stream rows the
    only requirement is that the dim stays broadcast-sized, which a
    policy/config table is by construction. The broadcast hint keeps
    Catalyst from ever planning the static side into a shuffle. Returns
    the unstarted DataFrame."""
    stream = read_pages_stream(spark, pages_dir)
    docs = extract_docs_text(stream, passthrough=("lang",))
    return (
        docs.join(F.broadcast(dim), "lang", "left")
        .select(
            "url",
            "lang",
            "status",
            F.coalesce("sample_weight", F.lit(1.0)).alias("sample_weight"),
            F.coalesce("min_chars", F.lit(0)).alias("min_chars"),
            (F.length(F.coalesce("text", F.lit("")))
             >= F.coalesce("min_chars", F.lit(0))).alias("passes_floor"),
        )
    )


def stream_host_budget(
    spark: SparkSession, pages_dir: str, cap: int = 5
) -> DataFrame:
    """Per-host CRAWL-BUDGET admission gate as explicit group state —
    the bespoke stateful operator the per-domain budget comment above
    promises concretely: each host may admit at most ``cap`` documents
    over the LIFETIME of the stream; the admitted count carries across
    micro-batches in ``applyInPandasWithState``, so a host that spends
    its budget early admits nothing ever after, regardless of how many
    batches later deliver its pages. Admission inside a batch is
    deterministic (url order), and every admitted row carries its
    budget rank for auditability — the streaming twin of qt61's batch
    per-host caps. At 10^12 pages: state is O(hosts), the shuffle is
    the one groupBy(host) every stateful operator pays.

    Returns the unstarted stateful DataFrame (``outputMode("append")``).
    """
    from typing import Iterator, Tuple

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = read_pages_stream(spark, pages_dir).select(
        F.regexp_extract("url", r"^[a-z]+://([^/]+)", 1).alias("host"),
        "url",
    )

    def admit(
        key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (used,) = state.get if state.exists else (0,)
        for pdf in pdfs:
            room = cap - used
            if room <= 0:
                continue
            take = pdf.sort_values("url").head(room)
            n = len(take)
            yield pd.DataFrame(
                {
                    "host": take["host"],
                    "url": take["url"],
                    "budget_rank": range(used + 1, used + n + 1),
                }
            )
            used += n
        state.update((used,))

    # not map_records: stateful across micro-batches
    return stream.groupBy("host").applyInPandasWithState(
        admit,
        outputStructType="host string, url string, budget_rank long",
        stateStructType="used long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_late_counts(
    spark: SparkSession, pages_dir: str, watermark: str = "10 minutes"
) -> DataFrame:
    """Single-file micro-batches (``maxFilesPerTrigger=1``) so a test can
    drive the watermark across batches deterministically and prove the
    LATE-DATA CONTRACT end-to-end — not just that the plan builds
    (the ``stream_event_counts`` test) but that (a) a window is emitted
    exactly once, in the batch where the watermark passes its end, with
    the state accumulated so far, and (b) rows arriving after the
    watermark passed their event time are genuinely DROPPED, never
    re-opening or double-emitting the window. That drop is the
    correctness price of bounded state at 10^12-row scale — and the
    number an ingest pipeline must audit (dropped-late-rows feed the
    lineage table; the batch backfill re-reads them from the source).
    Returns the unstarted windowed-count DataFrame (append mode).
    """
    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(pages_dir)
    )
    return (
        stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", "1 hour").alias("win"))
        .agg(F.count("*").alias("n_docs"))
        .select("win.start", "win.end", "n_docs")
    )


def stream_interval_join_outer(
    spark: SparkSession,
    events_dir: str,
    watermark: str = "10 minutes",
) -> DataFrame:
    """STREAM-STREAM **left outer** interval join — the unmatched-
    emission contract on top of ``stream_interval_join``'s state
    bounds: a view with no purchase within its hour must still come
    out (with NULL purchase columns), but only once the watermark
    proves no future match can arrive — emit earlier and you'd
    retract, emit never and the funnel's denominator silently loses
    exactly the non-converting users (the qr45 OUTER-explode trap, in
    time). Spark holds the left row in state until the join window
    closes, then emits the null-padded row; matched rows emit as they
    join. The dedicated multi-batch test drives the watermark past the
    window and asserts both populations appear exactly once. Returns
    the unstarted DataFrame."""
    views = (
        spark.readStream.schema(_EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
        .where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", watermark)
    )
    purchases = (
        spark.readStream.schema(_EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    joined = views.join(
        purchases,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") < F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
        "leftOuter",
    )
    return joined.select(
        "view_id",
        F.col("v_user").alias("user_id"),
        "purchase_id",
        (F.col("purchase_id").isNull()).alias("unconverted"),
    )
