"""Event-stream operators: tumbling-window aggregation and gap-based
sessionization, each with a batch formulation (SQL-oracle-checkable)
and a Structured Streaming formulation (watermark + windowed state).

The reference has no streaming surface (its "streaming engine" is an
out-of-core batch executor — SURVEY §2.7); these operators are part of
the engine's training-data-pipeline extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.kernels import jvm_lower


def _as_instant(df: DataFrame, col: str) -> DataFrame:
    """Watermarks require an instant (``TIMESTAMP``); parquet event-time
    columns read as ``TIMESTAMP_NTZ``. Cast NTZ -> TIMESTAMP (identity
    wall-clock under the engine's UTC session timezone) so the same
    source feeds both batch and streaming plans."""
    if isinstance(df.schema[col].dataType, T.TimestampNTZType):
        return df.withColumn(col, F.col(col).cast(T.TimestampType()))
    return df


def windowed_event_counts(
    events: DataFrame,
    window_seconds: int = 300,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Tumbling-window count/sum per key (batch). Window start is
    exposed as epoch seconds so results are timezone-representation
    independent."""
    win = F.window(F.col(ts_col), f"{window_seconds} seconds")
    return (
        events.groupBy(win.alias("__w"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(value_col), 6).alias("sum_value"),
        )
        .select(
            F.unix_timestamp("__w.start").alias("window_start"),
            key_col,
            "n_events",
            "sum_value",
        )
    )


def stream_windowed_counts(
    spark,
    events_path: str,
    schema,
    window_seconds: int = 300,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Structured Streaming variant of :func:`windowed_event_counts`:
    file-source stream -> watermark -> windowed aggregation. Late rows
    beyond the watermark are dropped; emit with ``writeStream`` in
    append or update mode."""
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(events_path)
    )
    stream = _as_instant(stream, "ts")
    win = F.window(F.col("ts"), f"{window_seconds} seconds")
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(win.alias("__w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.unix_timestamp("__w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_sessionize(
    spark,
    events_path: str,
    schema,
    gap_seconds: int = 1800,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming sessionization with Spark's native ``session_window``
    (gap-based dynamic windows + watermark state eviction) — the
    idiomatic Structured Streaming counterpart of :func:`sessionize`.
    Emit with ``writeStream`` in append mode once sessions close past
    the watermark, or complete/update for early results."""
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(events_path)
    )
    stream = _as_instant(stream, "ts")
    sw = F.session_window(F.col("ts"), f"{gap_seconds} seconds")
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(sw.alias("__sw"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp("__sw.start").alias("session_start"),
            "n_events",
        )
    )


def stream_exact_dedup(
    spark,
    docs_path: str,
    schema,
    text_col: str = "text",
    id_col: str = "doc_id",
    watermark_col: str = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: keep the first document per content
    fingerprint. With an event-time column, state is bounded via
    ``dropDuplicatesWithinWatermark`` (duplicates arriving within the
    watermark window are suppressed, state evicted after); without one,
    ``dropDuplicates`` keeps unbounded state — fine for bounded
    backfills, not for forever-streams."""
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(docs_path)
    )
    from ..functions.text import md5_fingerprint

    stream = stream.withColumn("fingerprint", md5_fingerprint(F.col(text_col)))
    if watermark_col is not None:
        stream = _as_instant(stream, watermark_col)
        return stream.withWatermark(
            watermark_col, watermark
        ).dropDuplicatesWithinWatermark(["fingerprint"])
    return stream.dropDuplicates(["fingerprint"])


def stream_running_counts(
    spark,
    events_path: str,
    schema,
    user_col: str = "user_id",
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: running
    per-user event totals carried in explicit group state across
    micro-batches (the template for stateful ops Spark lacks natively
    — per-entity quotas, decaying counters, online dedup sketches)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField(user_col, LongType()),
            StructField("total_events", LongType()),
        ]
    )
    state_schema = StructType([StructField("count", LongType())])

    def update(key, pdfs, state: GroupState):
        running = state.get[0] if state.exists else 0
        for pdf in pdfs:
            running += len(pdf)
        state.update((running,))
        import pandas as pd

        yield pd.DataFrame({user_col: [key[0]], "total_events": [running]})

    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(events_path)
    )
    return stream.groupBy(user_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def sessionize(
    events: DataFrame,
    gap_seconds: int = 1800,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Gap-based sessionization (batch): a new session starts when the
    user's inter-event gap exceeds ``gap_seconds``. Classic
    lag -> flag -> running-sum window pattern; shuffles once on the
    user key and reuses that partitioning for all three window steps.
    Returns one row per session with bounds and event count."""
    w_user = Window.partitionBy(user_col).orderBy(F.col(ts_col).asc())
    epoch = F.unix_timestamp(F.col(ts_col))
    with_gap = events.withColumn(
        "__new_session",
        F.when(
            epoch - F.lag(epoch).over(w_user) > gap_seconds, F.lit(1)
        ).otherwise(F.lit(0)),
    )
    with_session = with_gap.withColumn(
        "session_seq",
        F.sum("__new_session").over(
            w_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        with_session.groupBy(user_col, "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.unix_timestamp(F.min(ts_col)).alias("session_start"),
            F.unix_timestamp(F.max(ts_col)).alias("session_end"),
        )
    )


def _banded_fuzzy_enrich(
    stream_df: DataFrame,
    mapping,
    index_path: str,
    num_hashes: int,
    bands: int,
    shingle_n: int,
):
    """The past-BROADCAST_KEY_LIMIT fallback for
    :func:`stream_fuzzy_enrich`: a stream-static BANDED equi-join
    against a persisted :func:`~..operators.dedup.build_minhash_index`
    table (built over the static side's key strings with
    ``text_col=id_col=<right key column>`` and the SAME
    ``num_hashes/bands/shingle_n``). Nothing is ever collected or
    broadcast: each micro-batch computes MinHash band keys for its
    arriving rows map-only (the HOF signature — no aggregation, so
    the plan stays append-legal), equi-joins the stored band table,
    rescores the candidate sliver with the exact metric kernel, and
    reduces to the best match per row. The reduction runs as
    ``applyInPandasWithState`` (stateless use — grouping by a
    per-batch row uuid; no state is ever stored) because plain
    streaming aggregation would demand a watermark the enrich
    contract doesn't have.

    Like the sketch path this is lossy by design: recall follows the
    banding curve 1-(1-J^r)^b on the key-string shingle Jaccard
    (misses are pairs sharing no band). Batch inputs take a window
    ``row_number`` reduction instead — same rows, SQL-checkable."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..functions.kernels import distance_column
    from ..functions.minhash import minhash_signature
    from ..functions.text import word_shingles

    key_col = mapping.left_col
    rcol = mapping.right_col
    rev = mapping.reversed_threshold_score
    match_col = f"{rcol}_matched"
    score_col = mapping.output_column_name
    spark = stream_df.sparkSession
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    r = num_hashes // bands

    idx = spark.read.parquet(f"{index_path}/bands").select(
        F.col(rcol).alias("__rkey"),
        F.col("band").alias("__band"),
        F.col("band_key").alias("__bk"),
    )

    rid = "__row_uuid"
    in_cols = list(stream_df.columns)
    # signature is map-only (nested-HOF formulation): banded_buckets'
    # groupBy variant is faster at corpus scale but aggregation is not
    # append-legal on a stream; per-micro-batch volume is bounded.
    # Band keys hash the SAME slot longs as banded_buckets
    # (xxhash64(slot_j*r, ..) varargs — NOT xxhash64(slice(sig)),
    # whose array serialization hashes differently), so stream-side
    # keys equal index-side keys bit-for-bit.
    src = stream_df.withColumn(rid, F.expr("uuid()")).withColumn(
        "__sig",
        F.when(
            F.col(key_col).isNotNull(),
            minhash_signature(
                word_shingles(F.col(key_col), shingle_n), num_hashes
            ),
        ),
    )
    band_arr = F.array(
        *[
            F.struct(
                F.lit(j).cast("int").alias("__band"),
                F.xxhash64(
                    *[
                        F.element_at(F.col("__sig"), j * r + i + 1)
                        for i in range(r)
                    ]
                ).alias("__bk"),
            )
            for j in range(bands)
        ]
    )
    exploded = src.withColumn(
        "__b", F.explode_outer(F.when(F.col("__sig").isNotNull(), band_arr))
    ).select(
        *in_cols,
        rid,
        F.col("__b.__band").alias("__band"),
        F.col("__b.__bk").alias("__bk"),
    )
    joined = exploded.join(idx, on=["__band", "__bk"], how="left_outer")
    d = distance_column(
        mapping.fuzzy_type,
        jvm_lower(key_col),
        jvm_lower("__rkey"),
        rev,
    )
    scored = joined.withColumn(
        "__d", F.when(F.col("__rkey").isNotNull(), d)
    ).withColumn(
        "__score",
        F.when(F.col("__d") <= F.lit(rev), F.lit(1.0) - F.col("__d")),
    )

    if not stream_df.isStreaming:
        w = Window.partitionBy(rid).orderBy(
            F.col("__score").desc_nulls_last(),
            F.col("__rkey").asc_nulls_last(),
        )
        return (
            scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(
                *in_cols,
                F.when(F.col("__score").isNotNull(), F.col("__rkey")).alias(
                    match_col
                ),
                F.col("__score").alias(score_col),
            )
        )

    out_schema = T.StructType(
        list(stream_df.schema.fields)
        + [
            T.StructField(match_col, T.StringType()),
            T.StructField(score_col, T.DoubleType()),
        ]
    )
    state_schema = T.StructType([T.StructField("unused", T.IntegerType())])

    def best(key, pdfs, state):  # noqa: ARG001 - state intentionally unused
        import pandas as pd

        best_s, best_m, row = None, None, None
        for pdf in pdfs:
            if row is None and len(pdf):
                row = pdf.iloc[0]
            hits = pdf[pdf["__score"].notna()]
            for _, cr in hits.iterrows():
                s, k = float(cr["__score"]), cr["__rkey"]
                if (
                    best_s is None
                    or s > best_s
                    or (s == best_s and k < best_m)
                ):
                    best_s, best_m = s, k
        if row is None:
            return
        vals = {c: row[c] for c in in_cols}
        vals[match_col] = best_m
        vals[score_col] = best_s
        yield pd.DataFrame([vals], columns=in_cols + [match_col, score_col])

    return scored.groupBy(rid).applyInPandasWithState(
        best, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def stream_fuzzy_enrich(
    stream_df: DataFrame,
    right_df: DataFrame,
    mapping,
    top_n: int = 8,
    max_hamming: int = 40,
    probe_chunk: int = 256,
    index_path: str = None,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 2,
):
    """Stream-static fuzzy enrichment: annotate each arriving row with
    its best fuzzy match (and similarity score) from a static lookup
    table, under the engine's usual mapping semantics (lowercased
    comparison, ``int()``-truncated threshold, null keys never match).

    Physical shape: the static side's distinct keys are collected and
    SimHash-sketched ONCE at plan time and broadcast; a single
    stateless ``mapInPandas`` then sketches each micro-batch, XOR +
    SWAR-popcounts against the broadcast sketch vector, takes the
    per-row hamming top-N (``argpartition``), rescores only those
    candidates with the exact metric kernel, and emits the input row
    plus (match, score). No shuffle, no state store, no stream-static
    join — latency is one Arrow batch, and the same callable runs
    unchanged on a batch DataFrame (tested for equivalence).

    Like every ANN path the candidate stage is lossy by design: a true
    best match outside the hamming top-N is missed (reference contract,
    SURVEY §3.4-7).
    """
    import numpy as np

    from ..functions.minhash import simhash_sketch_np
    from ..functions.py_kernels import NORMALIZED_DISTANCE
    from ..operators.candidates import _swar_popcount

    key_col = mapping.left_col
    rcol = mapping.right_col
    dist_fn = NORMALIZED_DISTANCE[mapping.fuzzy_type]
    rev = mapping.reversed_threshold_score
    match_col = f"{rcol}_matched"
    score_col = mapping.output_column_name
    low_col = "__lc_key"  # the JVM-lowered key riding into the batches

    # Bound the static side BEFORE anything reaches the driver
    # (VERDICT r3 #2): dedup executor-side, count, and refuse to build
    # an unbounded broadcast sketch. Mirrors the batch ANN guard
    # (candidates.BROADCAST_KEY_LIMIT) — past the limit the right
    # answer is a stream-static equi-join on a blocking key (banding),
    # not a driver collect that OOMs at 100x.
    from ..operators.candidates import BROADCAST_KEY_LIMIT

    rkeys_df = (
        right_df.select(rcol)
        .where(F.col(rcol).isNotNull() & (F.col(rcol) != ""))
        .distinct()
    )
    n_rkeys = rkeys_df.count()
    if n_rkeys > BROADCAST_KEY_LIMIT:
        if index_path is not None:
            # VERDICT r4 #8: automatic scale fallback — stream-static
            # banded equi-join against the persisted key index; no
            # collect, no broadcast, per-batch cost tracks the batch
            return _banded_fuzzy_enrich(
                stream_df, mapping, index_path, num_hashes, bands,
                shingle_n,
            )
        raise ValueError(
            f"stream_fuzzy_enrich static side has {n_rkeys} distinct"
            f" keys (> BROADCAST_KEY_LIMIT={BROADCAST_KEY_LIMIT});"
            " a broadcast sketch would not fit. Pass index_path= (a"
            " build_minhash_index table over the static side's keys,"
            " text_col=id_col=<right key column>, same"
            " num_hashes/bands/shingle_n) to switch to the"
            " stream-static banded equi-join fallback; the index can"
            " be stream-maintained via stream_maintain_minhash_index."
        )
    # the keys are scored lowered in the JVM, as on every batch tier:
    # Python's ``str.lower`` follows another Unicode version
    rpairs = sorted(rkeys_df.select(rcol, jvm_lower(rcol)).collect())
    rkeys = [r[0] for r in rpairs]
    rsk = simhash_sketch_np(rkeys)
    spark = right_df.sparkSession
    bc = spark.sparkContext.broadcast((rkeys, [r[1] for r in rpairs], rsk))

    out_fields = stream_df.schema.fields + [
        T.StructField(match_col, T.StringType()),
        T.StructField(score_col, T.DoubleType()),
    ]
    out_schema = T.StructType(out_fields)

    def enrich(batches):
        rk, rlow, rv = bc.value
        m = len(rk)
        k = min(top_n, m)
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            matches = [None] * n
            scores = [None] * n
            if m:
                keys = pdf[key_col].fillna("").to_numpy()
                lows = pdf[low_col].to_numpy()
                lv = simhash_sketch_np(keys)
                for c0 in range(0, n, probe_chunk):
                    lc = lv[c0 : c0 + probe_chunk]
                    ham = _swar_popcount(lc[:, None] ^ rv[None, :])
                    if k < m:
                        cand = np.argpartition(ham, k - 1, axis=1)[:, :k]
                    else:
                        cand = np.broadcast_to(
                            np.arange(m), (lc.shape[0], m)
                        )
                    for i in range(lc.shape[0]):
                        key = keys[c0 + i]
                        if not key:
                            continue
                        best_s, best_m = -1.0, None
                        for j in cand[i]:
                            if ham[i, j] > max_hamming:
                                continue
                            d = dist_fn(lows[c0 + i], rlow[j])
                            if d <= rev:
                                s = 1.0 - d
                                # deterministic tie-break: smaller key
                                if s > best_s or (
                                    s == best_s and rk[j] < best_m
                                ):
                                    best_s, best_m = s, rk[j]
                        if best_m is not None:
                            matches[c0 + i] = best_m
                            scores[c0 + i] = best_s
            out = pdf.drop(columns=[low_col])
            out[match_col] = matches
            out[score_col] = scores
            yield out

    return stream_df.withColumn(low_col, jvm_lower(key_col)).mapInPandas(
        enrich, out_schema
    )


def stream_novelty_filter(
    stream_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    fp_col: str = "fingerprint",
) -> DataFrame:
    """Streaming incremental dedup: pass through only arriving
    documents whose content fingerprint (md5 of lowercased text) is
    NOT in the existing corpus. The streaming twin of
    ``dedup_incremental`` — same Bloom-prefiltered composition:

    - the corpus fingerprint set folds ONCE at plan time into a
      broadcast Bloom bitset (``operators/bloom.build_bloom`` —
      distributed build, only bitsets cross the wire);
    - each micro-batch row probes the bitset map-only; a Bloom miss
      PROVES novelty, so those rows are emitted with no join at all;
    - Bloom hits (the ~matching sliver + false positives) settle
      through an exact stream-static ``left_anti`` join against the
      corpus fingerprints.

    Exactly the plain stream-static anti join's rows, but the per-
    micro-batch join input shrinks to the Bloom survivors — the
    static side is re-planned every micro-batch, so pruning its probe
    input is what keeps steady-state latency flat as the corpus
    grows. Stateless: no watermark, no state store (contrast
    ``stream_exact_dedup``, which dedups WITHIN the stream under a
    watermark; this operator dedups AGAINST a static corpus).
    Output adds ``fp_col`` so downstream stages can fold accepted
    rows back into the corpus fingerprint store.
    """
    from ..operators.bloom import bloom_contains, build_bloom

    fp = F.md5(F.lower(F.col(text_col)))
    corpus_fp = corpus_df.select(
        F.md5(F.lower(F.col(text_col))).alias("__corpus_fp")
    ).distinct()
    blm = build_bloom(corpus_fp, "__corpus_fp")

    tagged = stream_df.filter(F.col(text_col).isNotNull()).withColumn(
        fp_col, fp
    )
    probe = bloom_contains(tagged, blm, fp_col)
    certain_novel = tagged.filter(~probe)
    maybe_seen = tagged.filter(probe).join(
        corpus_fp,
        tagged[fp_col] == corpus_fp["__corpus_fp"],
        "left_anti",
    )
    return certain_novel.unionByName(maybe_seen)


def stream_quality_filter(
    spark, path: str, schema, text_col: str = "text",
    id_col: str = "doc_id", keep_threshold: float = 0.5,
):
    """Streaming twin of the logistic-regression quality classifier
    (`functions/text.py::logreg_quality`): the scorer is a map-only
    Catalyst expression, so the SAME column logic applies unchanged to
    a file-source stream — per-microbatch, stateless, no watermark
    needed. The ingest-time quality gate of a continuously-crawled
    corpus."""
    from ..functions.text import logreg_quality

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(path)
    )
    return logreg_quality(stream, text_col, id_col, keep_threshold)


def click_purchase_interval_join(
    events: DataFrame, window_seconds: int = 600
) -> DataFrame:
    """Batch twin of :func:`stream_interval_join`: clicks joined to
    the SAME USER's purchases that occur within ``window_seconds``
    after the click — attribution within a bounded window. Equi-join
    on user_id with the time bound as a residual predicate (hash
    join, never a nested loop)."""
    ev = _as_instant(events, "ts")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return (
        clicks.join(purchases, on="user_id")
        .filter(
            (F.col("purchase_ts") >= F.col("click_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("click_ts") + F.expr(f"INTERVAL {window_seconds} SECONDS")
            )
        )
        .select(
            "user_id",
            "click_id",
            "purchase_id",
            F.unix_timestamp("purchase_ts").cast("long")
            - F.unix_timestamp("click_ts").cast("long"),
        )
        .toDF("user_id", "click_id", "purchase_id", "gap_seconds")
    )


def stream_interval_join(
    spark, path: str, schema, window_seconds: int = 600
):
    """STREAM-STREAM interval join (the Structured Streaming join with
    buffered state on BOTH sides): clicks and purchases are two
    watermarked streams over the same source; each click matches the
    same user's purchases within ``window_seconds`` after it. The
    time-bound condition lets Spark evict state — a click older than
    the purchase watermark minus the window can never match again and
    is dropped, so state is bounded by (watermark delay + window) x
    arrival rate, not by stream length. Batch twin:
    :func:`click_purchase_interval_join` (equivalence-tested)."""
    delay = f"{window_seconds * 2} seconds"

    def side(event_type: str, id_alias: str, ts_alias: str):
        s = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 4)
            .parquet(path)
        )
        s = _as_instant(s, "ts")
        return (
            s.filter(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(id_alias),
                F.col("user_id"),
                F.col("ts").alias(ts_alias),
            )
            .withWatermark(ts_alias, delay)
        )

    clicks = side("click", "click_id", "click_ts")
    purchases = side("purchase", "purchase_id", "purchase_ts")
    joined = clicks.alias("c").join(
        purchases.alias("p"),
        F.expr(
            f"""
            c.user_id = p.user_id AND
            purchase_ts >= click_ts AND
            purchase_ts <= click_ts + INTERVAL {window_seconds} SECONDS
            """
        ),
    )
    return joined.select(
        F.col("c.user_id").alias("user_id"),
        "click_id",
        "purchase_id",
        (
            F.unix_timestamp("purchase_ts").cast("long")
            - F.unix_timestamp("click_ts").cast("long")
        ).alias("gap_seconds"),
    )


def stream_maintain_minhash_index(
    spark, path: str, schema, index_path: str,
    text_col: str = "text", id_col: str = "doc_id",
    num_hashes: int = 16, bands: int = 8, shingle_n: int = 2,
):
    """Maintain the durable near-dup index (`build_minhash_index`)
    from a document STREAM: each microbatch's band keys and shingle
    arrays append to the index parquet via ``foreachBatch`` — the
    CDC-ingest pattern where the index grows with arrivals and
    `incremental_near_dup_pairs` probes stay batch-proportional.
    Returns the started streaming query (caller awaits/stops)."""
    from ..operators.dedup import minhash_index_frames

    def update(batch_df, _batch_id: int) -> None:
        bands_df, shingles_df = minhash_index_frames(
            batch_df, text_col, id_col, num_hashes, bands, shingle_n
        )
        bands_df.write.mode("append").parquet(f"{index_path}/bands")
        shingles_df.write.mode("append").parquet(f"{index_path}/shingles")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    return (
        stream.writeStream.foreachBatch(update)
        .trigger(availableNow=True)
        .start()
    )


def stream_temperature_resample(
    spark, path: str, schema, rates,
    lang_col: str = "lang", key_col: str = "doc_id",
):
    """Streaming twin of
    `functions/sampling.temperature_resample`: the mixture RATES are
    a global corpus property a stream cannot know, so they are
    planned offline on a snapshot (`temperature_rates`) and applied
    at ingest as a stateless broadcast join + deterministic md5 draw.
    Replaying the stream (or re-running the batch) keeps the
    identical row set — the decision is a pure function of
    (key, rate). No state, no watermark; the rate table is |langs|
    rows. Pin it with a localCheckpoint/write before starting the
    query so every microbatch sees the same plan."""
    from ..functions.sampling import apply_mixture_rates

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(path)
    )
    return apply_mixture_rates(stream, rates, lang_col, key_col)


def stream_shard_router(
    spark, path: str, schema,
    key_col: str = "doc_id", n_shards: int = 16,
):
    """Streaming shard routing (`functions/sampling.shard_of`):
    stateless md5-mod assignment at ingest, so
    ``writeStream.partitionBy('shard')`` lands every record in the
    same stable shard directory the batch writer would choose — a
    continuously-ingested corpus stays loader-addressable without a
    rewrite. Same engine-portable integer math as the batch twin."""
    from ..functions.sampling import shard_of

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(path)
    )
    return stream.withColumn(
        "shard", shard_of(F.col(key_col), n_shards)
    )


def stream_image_dedup(
    spark, path: str, schema,
    id_col: str = "doc_id", payload_col: str = "payload",
    watermark_col: str = None, watermark: str = "1 hour",
):
    """Streaming exact-perceptual image dedup: decode + dhash each
    arriving image payload (`operators/imagehash.image_hashes` — the
    Arrow-batched map-only pass runs unchanged on a stream) and keep
    the FIRST image per dhash. A re-encoded or brightness-shifted
    copy of an already-seen image hashes identically (dhash's
    exposure invariance), so this suppresses the re-upload/mirror
    duplicates an ingest pipeline actually sees — not just byte-equal
    payloads like `stream_exact_dedup`. With an event-time column,
    state is bounded via ``dropDuplicatesWithinWatermark``; without
    one, ``dropDuplicates`` keeps unbounded state (bounded backfills
    only). Undecodable payloads carry a NULL dhash and are dropped
    (they cannot be deduplicated perceptually; route them through the
    exact-dedup twin instead)."""
    from ..operators.imagehash import image_hashes

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(path)
    )
    cols = [id_col, payload_col] + (
        [watermark_col] if watermark_col else []
    )
    hashed = image_hashes(
        stream.select(*cols), id_col, payload_col,
        passthrough_cols=[watermark_col] if watermark_col else None,
    ).where(F.col("dhash").isNotNull())
    if watermark_col is not None:
        hashed = _as_instant(hashed, watermark_col)
        return hashed.withWatermark(
            watermark_col, watermark
        ).dropDuplicatesWithinWatermark(["dhash"])
    return hashed.dropDuplicates(["dhash"])


def stream_image_near_dup_probe(
    spark, path: str, schema, index_df,
    id_col: str = "doc_id", payload_col: str = "payload",
    max_hamming: int = 3, bands: int = 4,
):
    """Streaming NEAR-dup image probe against a precomputed hash
    index: arriving images are hashed at ingest (map-only) and probed
    against the (static) corpus hash index via the same pigeonhole
    band keys the batch path uses — a stream-static equi-join per
    band, STATELESS on the stream side, exact recall for
    ``max_hamming <= bands - 1``. ``index_df`` is (index_id, dhash)
    for the existing corpus — build it once with
    `operators/imagehash.image_hashes` and refresh on whatever cadence
    the corpus grows (the `stream_maintain_minhash_index` pattern).
    Emits (id, index_id, hamming) rows for every near-match."""
    from ..operators.imagehash import image_hashes

    band_width = 64 // bands

    def band_key(col, i):
        return F.shiftrightunsigned(F.col(col), i * band_width).bitwiseAND(
            F.lit((1 << band_width) - 1)
        )

    idx = index_df.select(
        F.col(id_col).alias("index_id"), F.col("dhash").alias("__ih")
    )
    idx_banded = idx.select(
        "index_id",
        "__ih",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        band_key("__ih", i).alias("key"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("__b"),
    ).select("index_id", "__ih", "__b.band", "__b.key")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(path)
    )
    hashed = image_hashes(stream, id_col, payload_col).where(
        F.col("dhash").isNotNull()
    )
    probe = hashed.select(
        id_col,
        F.col("dhash").alias("__ph"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        band_key("dhash", i).alias("key"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("__b"),
    ).select(id_col, "__ph", "__b.band", "__b.key")
    return (
        probe.join(idx_banded, on=["band", "key"], how="inner")
        .withColumn(
            "hamming",
            F.bit_count(F.col("__ph").bitwiseXOR(F.col("__ih"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select(id_col, "index_id", "hamming")
        .dropDuplicates([id_col, "index_id"])
    )


def stream_video_dedup(
    spark, path: str, schema,
    id_col: str = "doc_id", payload_col: str = "payload",
    watermark_col: str = None, watermark: str = "1 hour",
):
    """Streaming perceptual VIDEO dedup — completes the media trio
    (image `stream_image_dedup`, audio `stream_audio_dedup`, this):
    decode each arriving AVI, dhash every frame, fold the distinct
    frame-hash SET into one 64-bit fingerprint
    (`operators/videohash.video_fingerprints`, map-only — frames
    never leave the decode pass) and keep the FIRST video per
    fingerprint. A brightness-shifted re-encode of an already-seen
    clip produces the identical frame-hash set (dhash exposure
    invariance), so this suppresses the re-upload duplicates
    byte-exact dedup cannot see. Watermark-bounded state when an
    event-time column exists; undecodable payloads carry a NULL
    fingerprint and are dropped (route them through
    `stream_exact_dedup` instead)."""
    from ..operators.videohash import video_fingerprints

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(path)
    )
    hashed = video_fingerprints(
        stream,
        id_col,
        payload_col,
        passthrough_cols=[watermark_col] if watermark_col else None,
    ).where(F.col("vfp").isNotNull())
    if watermark_col is not None:
        hashed = _as_instant(hashed, watermark_col)
        return hashed.withWatermark(
            watermark_col, watermark
        ).dropDuplicatesWithinWatermark(["vfp"])
    return hashed.dropDuplicates(["vfp"])


def stream_audio_dedup(
    spark, path: str, schema,
    id_col: str = "doc_id", payload_col: str = "payload",
    watermark_col: str = None, watermark: str = "1 hour",
):
    """Streaming perceptual AUDIO dedup — the acoustic twin of
    `stream_image_dedup`: decode + energy-gradient fingerprint each
    arriving WAV (`operators/audiohash.audio_fingerprints`, map-only)
    and keep the FIRST clip per fingerprint. A re-leveled copy of an
    already-ingested clip fingerprints identically (volume
    invariance), so this suppresses the re-upload/re-mastered
    duplicates byte-exact dedup cannot see. Watermark-bounded state
    when an event-time column exists; undecodable payloads carry a
    NULL fingerprint and are dropped (route them through
    `stream_exact_dedup` instead)."""
    from ..operators.audiohash import audio_fingerprints

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(path)
    )
    hashed = audio_fingerprints(
        stream,
        id_col,
        payload_col,
        passthrough_cols=[watermark_col] if watermark_col else None,
    ).where(F.col("afp").isNotNull())
    if watermark_col is not None:
        hashed = _as_instant(hashed, watermark_col)
        return hashed.withWatermark(
            watermark_col, watermark
        ).dropDuplicatesWithinWatermark(["afp"])
    return hashed.dropDuplicates(["afp"])


def stream_dsir_score(
    spark, path: str, schema, model,
    text_col: str = "text", id_col: str = "doc_id",
    buckets: int = 4096,
):
    """Streaming twin of `functions/dsir.dsir_log_weights` with a
    FROZEN importance model (the deployment shape: the bucket model is
    fit offline on raw+target corpora; the ingest stream scores each
    arriving document for admission). The batch path is
    explode -> broadcast-join -> groupBy(doc); a streaming groupBy
    would be a stateful aggregation, but the weight of one document
    depends only on its own grams, so the twin computes it per-row in
    an Arrow-batched pandas UDF with the (<= buckets)-row model as a
    plain dict in the closure — stateless, no watermark, no shuffle.
    Python's md5/lower/split reproduce the engine-portable md5-u32
    bucket hash exactly (Spark md5 hashes UTF-8 bytes). Docs whose
    text yields no grams score null and are filtered, matching the
    batch path's emit-no-row."""
    from ..functions.dsir import dsir_score_udf

    score = dsir_score_udf(model, buckets)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(path)
    )
    return (
        stream.withColumn("dsir_logw", score(F.col(text_col)))
        .where(F.col("dsir_logw").isNotNull())
        .select(id_col, "dsir_logw")
    )


def stream_ann_probe(
    spark, path: str, schema, corpus,
    vec_col: str = "embedding", id_col: str = "vec_id", k: int = 5,
):
    """Streaming twin of `operators/similarity.brute_force_topk`'s
    broadcast arm: exact top-k cosine neighbors for a STREAM of query
    vectors against a frozen corpus (the online-serving shape — the
    index is built offline, arriving vectors are matched at ingest).
    The broadcast scorer is a stateless Arrow-batched ``mapInPandas``
    (one GEMM per batch), so it applies unchanged per microbatch — no
    state store, no watermark, no shuffle; the twin literally calls
    the batch operator on the streaming frame with the strategy
    pinned to the broadcast arm (``corpus_blocks=1`` — the blocked
    GEMM path needs a static-side join, not a streaming map)."""
    from ..operators.similarity import brute_force_topk

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(path)
    )
    return brute_force_topk(
        stream, corpus, vec_col, id_col, k=k, corpus_blocks=1
    )


def stream_bpe_tokenize(
    spark, path: str, schema, merges,
    text_col: str = "text", id_col: str = "doc_id",
):
    """Streaming twin of `operators/bpe.bpe_encode_tokens`: tokenize a
    continuously-ingested corpus with a FROZEN merge table (the
    deployment shape — vocab induction is an offline batch job, its
    merge table ships to the ingest stream like any model artifact).
    The encode UDF is stateless and per-row, so the same Arrow-batched
    pandas UDF applies unchanged per microbatch; emits (id, token
    count, tokens) for downstream budget/packing stages."""
    from ..operators.bpe import bpe_encode_tokens

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(path)
    )
    enc = bpe_encode_tokens(stream, text_col, merges)
    return enc.select(
        id_col,
        F.size("bpe_tokens").alias("n_bpe_tokens"),
        "bpe_tokens",
    )


def phonetic_probe_batch(
    queries, corpus, name_col: str = "name",
    metric: str = "jaro_winkler", threshold: float = 0.0,
):
    """Shared batch/stream body for the phonetic probe: incoming
    names equi-join a frozen Soundex-blocked index of DISTINCT corpus
    names, then kernel-score within the block. Works unchanged on a
    streaming frame (stateless stream-static equi-join)."""
    from pyspark.sql import functions as F

    from ..functions.kernels import distance_column
    from ..functions.phonetic import soundex_code

    index = (
        corpus.select(F.col(name_col).alias("match_name"))
        .where(F.col("match_name").isNotNull())
        .distinct()
        .withColumn("_icode", soundex_code(F.col("match_name")))
        .where(F.col("_icode").isNotNull())
    )
    probes = queries.select(
        F.col(name_col).alias("query_name")
    ).withColumn("_qcode", soundex_code(F.col("query_name")))
    sim = F.lit(1.0) - distance_column(
        metric, jvm_lower("query_name"), jvm_lower("match_name")
    )
    return (
        probes.join(index, probes["_qcode"] == index["_icode"])
        .withColumn("similarity", F.round(sim, 6))
        .where(F.col("similarity") >= F.lit(threshold))
        .select("query_name", "match_name", "similarity")
    )


def stream_phonetic_probe(
    spark, path: str, schema, corpus, name_col: str = "name",
    metric: str = "jaro_winkler", threshold: float = 0.0,
):
    """Streaming twin of the phonetic blocking tier
    (`functions/phonetic.py`): the online record-linkage shape — the
    Soundex index over the reference corpus is built once (static
    side), arriving names are coded map-side and equi-joined against
    their block per microbatch. Stateless: no watermark, no state
    store; the per-batch work is one broadcastable hash join + a
    codegen'd kernel score."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(path)
    )
    return phonetic_probe_batch(
        stream, corpus, name_col=name_col, metric=metric, threshold=threshold
    )


def entity_assign_batch(
    queries, entities, name_col: str = "name",
    threshold: float = 0.88, metric: str = "jaro_winkler",
):
    """Shared batch/stream body for online entity assignment: an
    arriving name is Soundex-blocked against the frozen entity table
    (distinct known names -> canonical), scored, and assigned the
    best-scoring canonical at similarity >= threshold — or itself
    when nothing in its block clears the bar (a NEW entity). Ties
    break to the lexicographically smaller canonical. Batch form:
    groupBy-max_by; the streaming twin replaces that aggregation with
    an applyInPandasWithState best-match (streaming append mode
    cannot run a plain aggregation without a watermark)."""
    from pyspark.sql import functions as F

    scored = _entity_scored(queries, entities, name_col, threshold, metric)
    # min_by over (-sim, canon): highest similarity first, ties to the
    # lexicographically smaller canonical; unmatched rows order last
    # (sentinel 2.0 > any -sim) and fall back to the name itself
    ordering = F.struct(
        F.coalesce(-F.col("__sim"), F.lit(2.0)).alias("ns"),
        F.coalesce(F.col("__canon"), F.col("query_name")).alias("c"),
    )
    best = scored.groupBy("query_name").agg(
        F.min_by(
            F.coalesce(F.col("__canon"), F.col("query_name")), ordering
        ).alias("entity"),
        F.max("__sim").alias("match_sim"),
    )
    return best.select("query_name", "entity", "match_sim")


def _entity_scored(queries, entities, name_col, threshold, metric):
    """(query_name, __canon, __sim) — left join of queries against
    their Soundex block in the entity index, similarity-scored,
    below-threshold candidates nulled (kept as left rows so unmatched
    names survive to become their own entity)."""
    from pyspark.sql import functions as F

    from ..functions.kernels import distance_column
    from ..functions.phonetic import soundex_code

    index = (
        entities.select(
            F.col("name").alias("__iname"),
            F.col("canonical_name").alias("__canon"),
        )
        .distinct()
        .withColumn("__icode", soundex_code(F.col("__iname")))
        .where(F.col("__icode").isNotNull())
    )
    probes = queries.select(
        F.col(name_col).alias("query_name")
    ).withColumn("__qcode", soundex_code(F.col("query_name")))
    sim = F.lit(1.0) - distance_column(
        metric, jvm_lower("query_name"), jvm_lower("__iname")
    )
    joined = probes.join(
        index, probes["__qcode"] == index["__icode"], "left"
    ).withColumn("__rawsim", sim)
    keep = F.col("__rawsim") >= F.lit(threshold)
    return joined.select(
        "query_name",
        F.when(keep, F.col("__canon")).alias("__canon"),
        F.when(keep, F.round(F.col("__rawsim"), 6)).alias("__sim"),
    )


def stream_entity_assign(
    spark, path: str, schema, entities, name_col: str = "name",
    threshold: float = 0.88, metric: str = "jaro_winkler",
):
    """Streaming twin of `entity_assign_batch` (21st twin): online
    record linkage against a FROZEN resolved-entity table — arriving
    names are blocked, scored and assigned per microbatch; the
    best-match selection is an ``applyInPandasWithState`` keyed by
    the query name (append-mode streaming cannot aggregate without a
    watermark; the state op emits exactly one assignment per name per
    batch, the same contract as `stream_fuzzy_enrich`)."""
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(path)
    )
    scored = _entity_scored(stream, entities, name_col, threshold, metric)
    out_schema = T.StructType(
        [
            T.StructField("query_name", T.StringType()),
            T.StructField("entity", T.StringType()),
            T.StructField("match_sim", T.DoubleType()),
        ]
    )
    state_schema = T.StructType([T.StructField("unused", T.IntegerType())])

    def best(key, pdfs, state):  # noqa: ARG001
        best_s, best_c, seen = None, None, False
        for pdf in pdfs:
            if len(pdf):
                seen = True
            hits = pdf[pdf["__sim"].notna()]
            for _, cr in hits.iterrows():
                s, c = float(cr["__sim"]), cr["__canon"]
                if (
                    best_s is None
                    or s > best_s
                    or (s == best_s and c < best_c)
                ):
                    best_s, best_c = s, c
        if not seen:
            return
        name = key[0]
        yield pd.DataFrame(
            [
                {
                    "query_name": name,
                    "entity": best_c if best_c is not None else name,
                    "match_sim": best_s,
                }
            ]
        )

    return scored.groupBy("query_name").applyInPandasWithState(
        best, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def stream_hll_registers(spark, path: str, schema, key_col: str):
    """Streaming twin of `operators/hll.hll_registers` (round 10):
    the register projection is a deterministic per-row expression and
    the register state is a max-aggregate — exactly the mergeable
    shape Structured Streaming wants, so the BATCH operator composes
    onto the stream unchanged. Complete-mode output is the live
    register table; at any trigger it equals the batch sketch of the
    rows ingested so far (equivalence-tested), which is the streaming
    distinct-count story at fleet scale: ~2^p rows of state no matter
    how many keys flow through."""
    from ..operators.hll import hll_registers

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(path)
    )
    return hll_registers(stream, key_col)


def stream_cm_sketch(spark, path: str, schema, key_col: str):
    """Streaming twin of `operators/countmin.cm_sketch` (round 10):
    Count-Min cells are sum-mergeable, so the batch operator runs on
    the stream as a streaming aggregation with <= depth * width rows
    of state; the complete-mode table at any trigger equals the
    batch sketch of everything ingested (equivalence-tested)."""
    from ..operators.countmin import cm_sketch

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(path)
    )
    return cm_sketch(stream, key_col)


def stream_hist_sketch(
    spark, path: str, schema, value_col: str,
    lo: float, hi: float, n_bins: int = 1024,
):
    """Streaming twin of `operators/quantiles.hist_sketch` (round 11):
    fixed-bin histogram cells are sum-mergeable, so the batch operator
    composes onto a stream unchanged as a streaming aggregation with
    <= n_bins rows of state regardless of stream volume; the
    complete-mode table at any trigger equals the batch sketch of
    everything ingested (equivalence-tested), and `hist_quantiles`
    reads quantiles off it between triggers without touching the
    stream."""
    from ..operators.quantiles import hist_sketch

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(path)
    )
    return hist_sketch(stream, value_col, lo, hi, n_bins)


def stream_hll_registers_by(
    spark, path: str, schema, key_col: str, group_cols: list,
):
    """Streaming twin of `operators/hll.hll_registers_by` (round 11):
    per-group HLL register tables as a streaming aggregation — the
    register projection is a deterministic per-row map and the
    per-(group, register) max is mergeable, so the batch operator
    composes onto the stream unchanged. Complete-mode state is
    bounded at <= 2^p rows PER GROUP regardless of stream volume:
    per-group distinct counts over an unbounded stream without
    holding the keys."""
    from ..operators.hll import hll_registers_by

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(path)
    )
    return hll_registers_by(stream, key_col, group_cols)


def stream_cdc_snapshot(
    spark, path: str, schema, key_cols, seq_cols,
    op_col: str = None, delete_value: str = "D",
):
    """Streaming twin of `operators/cdc.cdc_latest_snapshot` (round
    12, the 26th twin): latest-wins CDC state maintained on an
    unbounded changelog stream. The batch operator is ONE max-struct
    aggregation — commutative and mergeable — so it composes onto the
    stream unchanged as a streaming aggregation with O(keys) state
    (one struct per key, however many changes flow through); the
    complete-mode table at any trigger equals the batch snapshot of
    every change ingested so far (equivalence-tested), tombstone
    filtering included. This is the streaming MERGE INTO: the state
    store IS the materialized latest snapshot."""
    from ..operators.cdc import cdc_latest_snapshot

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(path)
    )
    return cdc_latest_snapshot(
        stream, key_cols, seq_cols, op_col=op_col,
        delete_value=delete_value,
    )


def stream_cdc_merge_to_parquet(
    spark, path: str, schema, snapshot_dir: str,
    key_cols, seq_cols, op_col: str = None, delete_value: str = "D",
):
    """End-to-end streaming MERGE INTO a parquet lake (round 12): each
    changelog microbatch advances an on-disk latest-wins snapshot via
    ``foreachBatch`` + `operators/cdc.cdc_apply` — read the current
    snapshot generation, merge the batch (latest-wins is associative,
    so ANY micro-batching of the changelog yields the full-replay
    snapshot), write the next generation, then flip a one-line
    manifest. Generations make the flip atomic-enough for a
    demonstration sink (readers resolve the manifest first); a real
    lake would swap in a table format's transactional commit for the
    manifest without touching the merge shape. With the snapshot
    written bucketed on the key, `cdc_apply_joined` makes each
    increment exchange-free for the snapshot side (plan-asserted in
    tests); this function keeps plain parquet for simplicity.
    Returns the started query (caller awaits/stops)."""
    import os as _os

    from ..operators.cdc import cdc_apply, cdc_latest_snapshot

    manifest = _os.path.join(snapshot_dir, "MANIFEST")

    def current_generation():
        try:
            with open(manifest) as fh:
                return fh.read().strip()
        except FileNotFoundError:
            return None

    def update(batch_df, batch_id: int) -> None:
        gen = current_generation()
        if gen is None:
            merged = cdc_latest_snapshot(
                batch_df, key_cols, seq_cols, op_col, delete_value
            )
        else:
            snap = spark.read.parquet(_os.path.join(snapshot_dir, gen))
            merged = cdc_apply(
                snap, batch_df, key_cols, seq_cols, op_col, delete_value
            )
        nxt = f"gen_{batch_id}"
        merged.write.mode("overwrite").parquet(
            _os.path.join(snapshot_dir, nxt)
        )
        with open(manifest, "w") as fh:
            fh.write(nxt)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    return (
        stream.writeStream.foreachBatch(update)
        .trigger(availableNow=True)
        .start()
    )
