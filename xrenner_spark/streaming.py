"""Structured Streaming wrapper over the same KG kernel.

The reference is strictly batch (SURVEY.md §2.7: no streaming operators
exist in it), so streaming is an additive capability here: a continuous
ingestion mode for the identical per-document kernel.

Design: the fused extract+kernel stage is a stateless mapInArrow and is
therefore directly streamable; the chain/triple SQL stage self-joins the
kernel output three ways, which stream-stream join semantics cannot
express per-document-exactly — and chains never cross documents — so the
triple stage runs per micro-batch via ``foreachBatch`` (the canonical
reuse-batch-logic pattern).  Watermarked event-time aggregation over
``warc_ts`` is provided for monitoring/late-data demonstration.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .lex import load_lex
from .pipeline import PAGES_SCHEMA, fused_extract_kernel_stage, triples_stage


def read_pages_stream(spark: SparkSession, source_dir: str,
                      max_files_per_trigger: int = 4) -> DataFrame:
    """File-source stream of page parquet drops (each file = a WARC-ish
    ingestion unit)."""
    return (spark.readStream
            .schema(PAGES_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(source_dir))


def stream_pipeline(spark: SparkSession, source_dir: str, out_dir: str,
                    lex_dir: Optional[str] = None, available_now: bool = True):
    """Continuous KG construction: pages stream -> kernel -> per-batch
    triple emission; returns the started StreamingQuery.  At-least-once:
    ``foreachBatch`` appends, so a replayed micro-batch appends again."""
    pages = read_pages_stream(spark, source_dir)
    bcast = spark.sparkContext.broadcast(load_lex(lex_dir))
    kernel_out = fused_extract_kernel_stage(pages, bcast)

    triples_path = os.path.join(out_dir, "triples")
    checkpoint = os.path.join(out_dir, "_checkpoint")

    def emit_triples(batch_df: DataFrame, batch_id: int):
        batch_df = batch_df.persist()
        try:
            batch_df.count()  # materialize before the 3-way join fan-out
            (triples_stage(batch_df)
             .withColumn("batch_id", F.lit(batch_id))
             .write.mode("append").parquet(triples_path))
        finally:
            batch_df.unpersist()

    writer = (kernel_out.writeStream
              .foreachBatch(emit_triples)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_dedup(pages: DataFrame,
                    ttl_ms: Optional[int] = 30 * 24 * 3600 * 1000,
                    late_threshold: str = "1 hour",
                    key_col: Optional[str] = None) -> DataFrame:
    """Cross-batch exact deduplication as a custom stateful operator
    (applyInPandasWithState): the first page with a given content hash
    passes through, every later arrival — in the same OR any later
    micro-batch — is dropped, with per-group state carrying the
    seen-count across batches.  This is the stateful streaming primitive
    a training-data ingest pipeline needs (the batch dedup operators
    can't see across micro-batches).

    State policy (the explicit 100 TB choice): per-hash state is evicted
    once the EVENT-TIME watermark passes ``last_seen_ts + ttl_ms``, so
    the state store holds only hashes sighted within the TTL window of
    the stream's frontier rather than every hash ever ingested.  The
    tradeoff is documented and deliberate: a duplicate arriving more
    than ``ttl_ms`` (event time) after its last sighting is re-admitted.
    Event-time rather than processing-time TTL keeps eviction
    deterministic under replay/backfill (a re-run over the same WARC
    drops evicts identically — wall-clock TTL would not) and lets
    availableNow batch-catchup runs terminate (a processing-time TTL
    keeps scheduling timeout-only micro-batches until the TTL elapses).
    Pass ``ttl_ms=None`` for exact-forever dedup (unbounded state — only
    sane with a RocksDB state store and a bounded key universe; the
    batch ``dedup_exact`` join is the right tool for retroactive
    exactness).  ``late_threshold`` is the watermark delay: how far
    out-of-order page timestamps may arrive.

    ``key_col``: dedup key column.  Default None computes
    ``content_hash = md5(text)`` (exact content dedup); pass the name
    of an existing column to dedup on any other identity — see
    ``streaming_url_frontier`` for the canonical-URL crawl-frontier
    instance."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField(key_col or "content_hash", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("dup_of_prior_batch", T.BooleanType()),
    ])
    state_schema = T.StructType([
        T.StructField("seen", T.LongType()),
        T.StructField("last_ts_ms", T.LongType()),
    ])
    cols = [f.name for f in out_schema.fields]
    keyname = cols[0]

    def dedup_group(key, pdf_iter, state):
        if state.hasTimedOut:
            # TTL expiry: evict; the next arrival of this hash re-admits
            state.remove()
            yield pd.DataFrame(columns=cols)
            return
        seen, last_ts_ms = state.get if state.exists else (0, 0)
        had_prior = seen > 0
        emitted = False
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            if seen == 0:
                # vectorized head-1 slice: only the first arrival survives
                first = pdf.iloc[:1][["url", "warc_ts", "text", "lang"]].copy()
                first.insert(0, keyname, key[0])
                first["dup_of_prior_batch"] = had_prior
                emitted = True
                yield first[cols]
            seen += len(pdf)
            batch_max = int(pd.Timestamp(pdf["warc_ts"].max()).value // 10**6)
            last_ts_ms = max(last_ts_ms, batch_max)
        state.update((seen, last_ts_ms))
        if ttl_ms is not None:
            # sliding event-time TTL, re-armed on every sighting; a key
            # whose sighting is already older than watermark+ttl (very
            # late data) gets a minimal grace — setTimeoutTimestamp
            # rejects timestamps at or below the current watermark
            wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(max(last_ts_ms + ttl_ms, wm + 1))
        if not emitted:
            yield pd.DataFrame(columns=cols)

    timeout = (GroupStateTimeout.EventTimeTimeout if ttl_ms is not None
               else GroupStateTimeout.NoTimeout)
    if key_col is None:
        hashed = pages.withColumn("content_hash", F.md5("text"))
    else:
        hashed = pages  # caller supplies the identity column
    if ttl_ms is not None:
        hashed = hashed.withWatermark("warc_ts", late_threshold)
    return (hashed.groupBy(keyname)
            .applyInPandasWithState(dedup_group, out_schema, state_schema,
                                    "append", timeout))


def streaming_url_frontier(pages: DataFrame,
                           ttl_ms: Optional[int] = None,
                           late_threshold: str = "1 hour") -> DataFrame:
    """Crawl-frontier dedup: the FIRST capture of each canonical URL
    passes, every later raw spelling of the same page — any batch — is
    dropped.  This is the streaming twin of the batch ``web_url_dedup``
    operator (operators/web.py canonicalization contract, reused
    verbatim), keyed on canonical_url instead of content hash; a crawl
    scheduler uses it to skip re-fetch candidates already ingested.
    Default ``ttl_ms=None`` (a frontier forgets nothing); pass a TTL to
    model deliberate re-crawl windows — eviction semantics identical to
    ``streaming_dedup``."""
    from .operators.web import _canon_sql
    canon = pages.withColumn("canonical_url", F.expr(_canon_sql("spark")))
    return streaming_dedup(canon, ttl_ms=ttl_ms,
                           late_threshold=late_threshold,
                           key_col="canonical_url")


def mention_rate_stream(kernel_out: DataFrame, window: str = "1 hour",
                        watermark: str = "1 day") -> DataFrame:
    """Watermarked event-time aggregation: mentions/docs per warc_ts
    window, tolerating late pages up to the watermark."""
    return (kernel_out
            .withWatermark("warc_ts", watermark)
            .groupBy(F.window("warc_ts", window), "lang")
            .agg(F.sum(F.when(F.col("row_type") == "d", 1).otherwise(0))
                 .alias("docs"),
                 F.sum(F.when(F.col("row_type") == "m", 1).otherwise(0))
                 .alias("mentions"),
                 F.sum(F.when(F.col("error") != "", 1).otherwise(0))
                 .alias("errors")))


def streaming_domain_cap(pages: DataFrame, cap: int = 10) -> DataFrame:
    """Cross-batch per-domain quota as a custom stateful operator
    (applyInPandasWithState, keyed by the url's host): the first ``cap``
    pages ever seen for a domain pass through — within one micro-batch
    AND across batches — everything later is dropped.  This is the
    streaming twin of the batch ``doc_domain_cap`` quota (which cannot
    see across micro-batches).

    State policy: one int64 per domain — state is intrinsically bounded
    by the domain universe (unlike dedup's per-content-hash state), and
    a domain at its cap never grows its entry, so no TTL is needed;
    at web scale (10^8 domains x 16 bytes) this still fits a RocksDB
    state store comfortably.  Within a batch, rows are admitted in
    (warc_ts, url) order so replays admit identically."""
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("domain", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("kept_rank", T.LongType()),
    ])
    state_schema = T.StructType([T.StructField("kept", T.LongType())])
    cols = [f.name for f in out_schema.fields]

    def cap_group(key, pdf_iter, state):
        kept = state.get[0] if state.exists else 0
        # a group larger than one Arrow batch arrives as several chunks:
        # concatenate BEFORE sorting, or admission would be per-chunk
        # order-dependent and a replay with different chunk boundaries
        # could admit a different set
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if kept >= cap or not chunks:
            state.update((kept,))
            yield pd.DataFrame(columns=cols)
            return
        batch = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
        take = batch.sort_values(["warc_ts", "url"]).iloc[: cap - kept]
        take = take[["url", "warc_ts"]].copy()
        take.insert(0, "domain", key[0])
        take["kept_rank"] = range(kept + 1, kept + 1 + len(take))
        state.update((kept + len(take),))
        yield take

    domain = F.regexp_extract("url", r"^[a-z]+://([^/]+)", 1)
    return (pages
            .select(domain.alias("domain"), "url", "warc_ts")
            .groupBy("domain")
            .applyInPandasWithState(cap_group, out_schema, state_schema,
                                    "append", "NoTimeout"))
