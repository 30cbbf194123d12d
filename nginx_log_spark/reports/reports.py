"""The reference's aggregate reports as lazy DataFrame functions.

Each per-report function mirrors one hash-table aggregate of the
reference's single pass (c/main.c:460-477) plus its report-time sort/top-K
(c/main.c:246-360); the graded queries call them one at a time. All take
the PARSED DataFrame (output of ``parse_sequences``/``parse_lines``, already
filtered to ``valid``) and return unexecuted DataFrames. The full report
comes from ``fused_reports``: every aggregate in one scan and one linear
chain of three shuffles — the Spark analogue of the reference computing 10 aggregates in one pass.

Scale notes (100 TB):
- every report is groupBy(low-cardinality key) -> partial+final hash agg:
  one shuffle of ~10^3-10^5 aggregated rows, never of raw rows;
- top-K is orderBy+limit over the AGGREGATED rows => Spark plans
  TakeOrderedAndProject (a bounded heap per partition + driver merge —
  the same algorithm as the reference's Nim/C++ top_k, main.nim:157-169);
- percentages use a broadcast 1-row totals join, not a window over a
  single partition;
- tie order: the reference's qsort is unstable (c/hash.c:173-200); we fix
  (cnt desc, key asc) as the canonical deterministic order (SURVEY.md §2.6).
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W
from pyspark.sql.window import WindowSpec

TOP_K = 100  # c/main.c:252

# key column per report (c/main.c:499-513 print order)
REPORT_KEYS = {
    "top_ips": "remote_addr",
    "top_users": "remote_user",
    "top_xff": "http_x_forwarded_for",
    "top_requests": "request",
    "top_uas": "http_user_agent",
    "top_referers": "http_referer",
    "top_times": "time_local",
    "status_counts": "status",
}


def totals(parsed: DataFrame) -> DataFrame:
    """Header totals: accepted lines, bytes, distinct IPs (c/main.c:487-494)."""
    return parsed.agg(
        F.count(F.lit(1)).alias("total_lines"),
        F.sum("body_bytes_sent").alias("total_bytes_sent"),
        F.countDistinct("remote_addr").alias("unique_ips"),
    )


def _with_pct(agg: DataFrame, num_col: str, denom: DataFrame, denom_col: str) -> DataFrame:
    """pct = num/denom*100 via a broadcast 1-row join (no single-partition window)."""
    return agg.crossJoin(F.broadcast(denom)).withColumn(
        "pct", F.round(F.col(num_col) / F.col(denom_col) * 100.0, 2)
    )


def top_counts(parsed: DataFrame, key: str, k: int = TOP_K) -> DataFrame:
    """groupBy(key).count() -> top-K by (cnt desc, key asc) + pct of total.

    The reference: incr(table, key, 1) per line (c/main.c:460-467), then
    sort desc + truncate at 100 with per-row percentage (c/main.c:246-278).
    """
    agg = parsed.groupBy(key).agg(F.count(F.lit(1)).alias("cnt"))
    tot = parsed.agg(F.count(F.lit(1)).alias("_tot"))
    return (
        _with_pct(agg, "cnt", tot, "_tot")
        .select(key, "cnt", "pct")
        .orderBy(F.desc("cnt"), F.asc(key))
        .limit(k)
    )


def bytes_by_request(parsed: DataFrame, k: int = TOP_K) -> DataFrame:
    """sum(body_bytes_sent) by request line, top-K, pct of total bytes
    (c/main.c:468 weighted incr + print_sent_long c/main.c:280-321)."""
    agg = parsed.groupBy("request").agg(F.sum("body_bytes_sent").alias("bytes"))
    tot = parsed.agg(F.sum("body_bytes_sent").alias("_tot"))
    return (
        _with_pct(agg, "bytes", tot, "_tot")
        .select("request", "bytes", "pct")
        .orderBy(F.desc("bytes"), F.asc("request"))
        .limit(k)
    )


def bad_code_breakdown(parsed: DataFrame, k: int = TOP_K) -> DataFrame:
    """Per-bad-status top-K requests (c/main.c:469-477 nested tables +
    print_code_long c/main.c:323-360).

    One groupBy(status, request) replaces the reference's 999 sub-tables;
    the per-section top-K is the one genuinely windowed operator, ranked
    by ``_two_phase_rank`` like the fused path: no single task ever sorts a
    hot status code's full aggregate, and the section totals ride the
    ranking's own shuffles. Output is ordered (status asc, cnt desc,
    request asc) like the section loop at c/main.c:517-523.
    """
    agg = (
        parsed.filter(F.col("status") != "200")
        .groupBy("status", "request")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = parsed.agg(F.count(F.lit(1)).alias("_tot"))
    ranked = _two_phase_rank(
        agg, ["status"], "request", {"rn": "cnt"}, {"section_total": F.sum("cnt")}, k
    ).filter(F.col("rn") <= k)
    return (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            "status",
            "request",
            "cnt",
            "section_total",
            F.round(F.col("cnt") / F.col("section_total") * 100.0, 2).alias("pct_of_section"),
            F.round(F.col("section_total") / F.col("_tot") * 100.0, 2).alias("section_pct_of_total"),
        )
        .orderBy(F.asc("status"), F.desc("cnt"), F.asc("request"))
    )


_RANK_BUCKETS = 64


def _two_phase_rank(
    agg: DataFrame,
    section: list[str],
    key: str,
    ranks: dict[str, str],
    totals: dict[str, Column],
    k: int,
) -> DataFrame:
    """Exact per-section top-k ranks and section totals over ``agg`` (one
    row per (*section, key)) in two shuffles.

    ``ranks`` maps each output rank column to the value it ranks by
    (value desc, key asc). ``totals`` maps each output total column to an
    aggregate over the section's rows; every aggregate must be additive
    (a sum or a count), because it is summed from per-bucket parts.

    Phase 1 ranks within (section, hash-bucket of the key) and keeps the
    rows in any ranking's bucket top-k: a row in a section's top-k by
    some value is top-k in its own bucket, so the survivors (≤
    len(ranks)·k·buckets per section) contain every answer. Phase 2
    ranks the survivors exactly. A survivor kept only through one ranking
    can get another rank too low, but never ≤ k: the true top-k of that
    ranking all survive and outrank it. So every row and rank under the
    cut equals the one-window plan's.

    The section totals need no second pass: phase 1 computes each
    bucket's totals and carries them on the bucket's first row by the
    first ranking, which always survives the cut. Phase 2 sums the
    carries. The bucket is a column, not an expression in the window
    spec, so both rankings of a phase share one exchange.
    """
    orders = {r: [F.desc(v), F.asc(key)] for r, v in ranks.items()}
    lead = next(iter(ranks))

    def windows(w: WindowSpec) -> tuple[dict[str, Column], WindowSpec]:
        # the lead ranking and the totals' full frame share one window
        # spec, so they run in one Window operator after one sort
        rn = {r: F.row_number().over(w.orderBy(*o)) for r, o in orders.items()}
        whole = w.orderBy(*orders[lead]).rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
        return rn, whole

    rn, whole = windows(W.partitionBy(*section, "_bucket"))
    pre = agg.withColumn("_bucket", F.pmod(F.xxhash64(key), F.lit(_RANK_BUCKETS))).select(
        *agg.columns,
        *[rn[r].alias("_b" + r) for r in ranks],
        *[F.when(rn[lead] == 1, c.over(whole)).alias(t) for t, c in totals.items()],
    )
    keep = functools.reduce(lambda a, b: a | b, [F.col("_b" + r) <= k for r in ranks])
    pre = pre.filter(keep)
    rn, whole = windows(W.partitionBy(*section))
    return pre.select(
        *agg.columns,
        *[rn[r].alias(r) for r in ranks],
        *[F.sum(t).over(whole).alias(t) for t in totals],
    )


# ---------------------------------------------------------------------------
# time: the reference groups the RAW time_local string (second granularity,
# c/main.c:462); the hourly rollup is the north-star addition.
# ---------------------------------------------------------------------------

_TIME_FMT = "dd/MMM/yyyy:HH:mm:ss Z"


def time_local_to_ts(col):
    """'10/Oct/2000:13:55:36 +0000' -> timestamp (null if unparseable)."""
    return F.to_timestamp(col, _TIME_FMT)


def hourly_traffic(parsed: DataFrame) -> DataFrame:
    """Requests + bytes per UTC hour bucket (north-star hourly report).
    Rows with an unparseable time_local are dropped (the fused dim drops
    null keys the same way, so the two APIs agree on any input)."""
    return (
        parsed.withColumn("ts", time_local_to_ts(F.col("time_local")))
        .filter(F.col("ts").isNotNull())
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(
            F.count(F.lit(1)).alias("hits"),
            F.sum("body_bytes_sent").alias("bytes"),
        )
        .orderBy("hour")
    )


def error_burst_zscore(
    parsed: DataFrame,
    err_prefix: str = "5",
    lookback: int = 10,
    min_history: int = 5,
) -> DataFrame:
    """Per-minute server-error burst detector: z-score of each minute's
    5xx count against the TRAILING `lookback` minutes (frame excludes the
    current minute — the score is 'how surprising vs recent history').

    Telemetry addition beyond the reference (which only counts). Scale
    shape: one per-minute pre-aggregation (tiny output: 1440 rows/day),
    then a window PARTITIONED BY HOUR — frames are bounded and the window
    never sees one global partition; minutes at an hour boundary restart
    their history (documented trade for scale-safety).

    FP discipline: mean/variance are derived from INTEGER window sums
    (count, sum, sum-of-squares) with one fixed double expression, so any
    engine computing the same expression on the same integers agrees
    bit-for-bit — no order-dependent float accumulation.
    """
    ts = time_local_to_ts(F.col("time_local"))
    base = (
        parsed.withColumn("_ts", ts)
        .filter(F.col("_ts").isNotNull())
        .groupBy(
            F.date_format(F.date_trunc("hour", F.col("_ts")), "yyyy-MM-dd HH").alias("hour"),
            F.date_format(F.date_trunc("minute", F.col("_ts")), "yyyy-MM-dd HH:mm").alias("minute"),
        )
        .agg(
            F.sum(
                F.when(F.col("status").startswith(err_prefix), 1).otherwise(0)
            ).alias("err_cnt"),
            F.count(F.lit(1)).alias("hits"),
        )
    )
    w = W.partitionBy("hour").orderBy("minute").rowsBetween(-lookback, -1)
    n = F.count(F.lit(1)).over(w)
    s = F.sum("err_cnt").over(w)
    ss = F.sum(F.col("err_cnt") * F.col("err_cnt")).over(w)
    var = (ss - s * s / n) / (n - 1)
    z = F.round((F.col("err_cnt") - s / n) / F.sqrt(var), 6)
    return (
        base.select(
            "minute", "err_cnt", "hits",
            n.alias("n_hist"), s.alias("sum_hist"),
            var.alias("_var"), z.alias("z"),
        )
        .filter((F.col("n_hist") >= min_history) & (F.col("_var") > 0))
        .drop("_var")
    )


def method_path_stats(parsed: DataFrame, k: int = TOP_K) -> DataFrame:
    """Top query-less URL paths by hits with bytes + 5xx counts — the
    request-line decomposition the reference never does (it keys the whole
    request line, c/main.c:463). Scan-speed split projection; top-K plans
    TakeOrderedAndProject."""
    arr = F.split(F.col("request"), " ")
    base = parsed.select(
        arr.getItem(0).alias("method"),
        F.split(arr.getItem(1), r"\?").getItem(0).alias("path"),
        "body_bytes_sent",
        F.when(F.col("status").startswith("5"), 1).otherwise(0).alias("e5"),
    )
    return (
        base.groupBy("method", "path")
        .agg(
            F.count(F.lit(1)).alias("hits"),
            F.sum("body_bytes_sent").alias("bytes"),
            F.sum("e5").cast("long").alias("n_5xx"),
        )
        .orderBy(F.desc("hits"), F.asc("method"), F.asc("path"))
        .limit(k)
    )


_FUSED_DIMS = [
    "top_ips", "top_users", "top_xff", "top_requests", "top_uas",
    "top_referers", "top_times", "status_counts", "hourly", "bad_code",
]
# bad_code composite key: status ++ SEP ++ request. status is ALWAYS exactly
# 3 digits (the C gate, c/main.c:433-437), so the split back is positional
# (substring 1-3 / 5-) — wrap-string fields like request may legally contain
# \x01 (any byte but the closing quote survives, c/main.c:104), so splitting
# AT the separator would truncate such requests.
_SEP = "\x01"


def fused_reports(parsed: DataFrame, k: int = TOP_K) -> DataFrame:
    """ALL count-style reports in ONE scan and one linear plan — the Spark
    restatement of the reference's fused multi-aggregate loop
    (c/main.c:460-477).

    Shape: posexplode over a 10-slot array<string> (dim = array position —
    structs in the explode triple string-copy garbage and anti-scale under
    GC pressure; measured 2.6x slower), then one groupBy(dim, key) with
    map-side partial agg (only ~10^4-10^5 aggregated keys shuffle), then
    the two-phase per-dim ranking (``_rank_partials``: three shuffles in
    all, no broadcast branch). bytes_by_request needs no extra dim: the
    request dim already aggregates sum(bytes), ranked via rn_bytes.

    Output: (dim, key, key2, cnt, bytes, section_total, section_bytes,
    section_keys, rn, rn_bytes) — key2 = request within bad_code sections
    (key = status). Header totals ride along: section_total of any plain
    dim == total lines, section_bytes == total bytes, section_keys of
    top_ips == unique IPs (c/main.c:487-494).
    """
    keys = [
        F.col("remote_addr"), F.col("remote_user"), F.col("http_x_forwarded_for"),
        F.col("request"), F.col("http_user_agent"), F.col("http_referer"),
        F.col("time_local"), F.col("status"),
        # hourly: UTC hour bucket, offset-aware like hourly_traffic (mixed
        # timezone offsets fold into the same UTC hour); unparseable -> null
        # -> dropped by the explode filter
        F.date_format(
            F.date_trunc("hour", time_local_to_ts(F.col("time_local"))),
            "yyyy-MM-dd HH",
        ),
        F.when(F.col("status") != "200",
               F.concat(F.col("status"), F.lit(_SEP), F.col("request"))),
    ]
    ex = parsed.select(
        F.posexplode(F.array(*keys)).alias("dim_id", "key0"),
        F.col("body_bytes_sent").alias("_b"),
    ).filter(F.col("key0").isNotNull())
    # row-level partials (cnt=1): _rank_partials' groupBy is then the ONE
    # partial+final aggregation, and its two-phase top-K replaces the
    # single-task-per-dim window (see _rank_partials)
    partials = ex.select(
        "dim_id", "key0", F.lit(1).alias("cnt"), F.col("_b").alias("bytes")
    )
    return _rank_partials(partials, k)


def _rank_partials(agg: DataFrame, k: int) -> DataFrame:
    """Final agg + per-dim top-K ranking over (dim_id, key0, cnt, bytes)
    partials — shared tail of both fused implementations.

    One linear plan with three exchanges: the final aggregate, then the
    two phases of ``_two_phase_rank``. A single window PARTITIONED ONLY BY
    DIM would sort the whole per-second time dimension (millions of
    aggregated rows at scale) in ONE task — the classic anti-scale
    single-partition window; phase 1 pre-ranks within (dim, section,
    hash-bucket of the key) instead. Phase 1 keeps the per-bucket bytes
    top-k for EVERY dim, not just the request dim, so every `rn <= k` /
    `rn_bytes <= k` consumer sees the one-window plan's rows and ranks.

    Section totals (header totals / per-code subtotals, c/main.c:487-494,
    :326-331) are the sums of the per-bucket totals phase 1 carries on
    each bucket's top row: exact, with no broadcast and no second scan.
    """
    agg = agg.groupBy("dim_id", "key0").agg(
        F.sum("cnt").alias("cnt"), F.sum("bytes").alias("bytes")
    )
    is_bad = F.col("dim_id") == 9
    # positional split: status is exactly 3 digits (see _SEP note)
    status = F.substring(F.col("key0"), 1, 3)
    named = agg.select(
        F.element_at(F.array(*[F.lit(d) for d in _FUSED_DIMS]), F.col("dim_id") + 1).alias("dim"),
        F.col("dim_id"),
        F.when(is_bad, status).otherwise(F.col("key0")).alias("key"),
        F.when(is_bad, F.expr("substring(key0, 5)")).alias("key2"),
        F.col("key0"),
        "cnt",
        "bytes",
        F.when(is_bad, status).alias("_sect"),
    )
    ranked = _two_phase_rank(
        named,
        ["dim_id", "_sect"],
        "key0",
        {"rn": "cnt", "rn_bytes": "bytes"},
        {
            "section_total": F.sum("cnt"),
            "section_bytes": F.sum("bytes"),
            "section_keys": F.count(F.lit(1)),
        },
        k,
    )
    return ranked.filter(
        (F.col("rn") <= k) | ((F.col("dim_id") == 3) & (F.col("rn_bytes") <= k))
    ).select(
        "dim", "dim_id", "key", "key2", "cnt", "bytes",
        "section_total", "section_bytes", "section_keys", "rn", "rn_bytes",
    )


# canonical combined-format time: 'dd/Mon/yyyy:HH:mm:ss +ZZZZ'
_TIME_RE = (
    r"^(?P<dt>[0-9]{2}/[A-Za-z]{3}/[0-9]{4}:[0-9]{2}:[0-9]{2}:[0-9]{2})"
    r" (?P<sign>[+-])(?P<oh>[0-9]{2})(?P<om>[0-9]{2})$"
)


def _hour_key_arrow(tl):
    """time_local utf8 array -> 'yyyy-MM-dd HH' UTC hour key (null if the
    string isn't a canonical offset time) — the vectorized twin of the JVM
    to_timestamp + date_trunc hourly dim."""
    import pyarrow as pa
    import pyarrow.compute as pc

    res = pc.extract_regex(tl, pattern=_TIME_RE)
    # non-matching rows null the STRUCT but not its children — mask fields
    ok = pc.is_valid(res)
    null_s = pa.scalar(None, pa.string())
    fld = lambda n: pc.if_else(ok, res.field(n), null_s)
    dt = pc.strptime(fld("dt"), format="%d/%b/%Y:%H:%M:%S", unit="s",
                     error_is_null=True)
    off = pc.add(
        pc.multiply(pc.cast(fld("oh"), pa.int64()), 3600),
        pc.multiply(pc.cast(fld("om"), pa.int64()), 60),
    )
    off = pc.if_else(pc.equal(fld("sign"), "-"), pc.negate(off), off)
    utc = pc.cast(pc.subtract(pc.cast(dt, pa.int64()), off), pa.timestamp("s"))
    return pc.strftime(pc.floor_temporal(utc, unit="hour"), format="%Y-%m-%d %H")


def fused_reports_arrow(seq: DataFrame, k: int = TOP_K, tokens_col: str = "tokens") -> DataFrame:
    """parse + per-partition partial aggregation fused into ONE mapInArrow
    pass — the literal Spark analogue of the reference's per-line
    multi-aggregate loop (c/main.c:407-478).

    Why not parse-then-aggregate: shipping every parsed field (and the
    token arrays) from the Python workers back to the JVM costs far more
    than the parse itself (~10-15us/row/core measured), and the 10-way JVM
    explode anti-scales under allocation pressure. Here the Python op
    consumes the batch, aggregates per (dim, key) with pyarrow's C++ hash
    group-by, and emits one partial table per input partition.

    Partial-size honesty (measured round 2): nine of the ten dims compress
    ~100x in the partial agg, but the per-SECOND time dim (the reference's
    请求时间统计, c/main.c:462) is near-unique within a partition whenever
    rows-per-partition < distinct-seconds-in-span, so its partials are
    ~rows-sized and dominate the merge shuffle. That shuffle is inherent to
    an EXACT per-second histogram on any distributed engine (the reference
    pays the same cost as one giant in-RAM table); it amortizes at 100 TB
    where the span saturates, and every other dim stays ~10^3 rows.

    Input: the raw sequences table. Output: identical to fused_reports.
    """
    import pyarrow as pa

    from nginx_log_spark.parse.arrow_parser import (
        _parse_binary_lines,
        _tokens_to_binary,
    )

    def op(batches):
        import pyarrow.compute as pc

        parts: list[pa.Table] = []
        for b in batches:
            tok = b.column(b.schema.get_field_index(tokens_col))
            parsed = _parse_binary_lines(_tokens_to_binary(tok))
            valid = parsed["valid"]
            body = pc.if_else(valid, parsed["body_bytes_sent"], pa.scalar(None, pa.int64()))
            keys = [
                parsed["remote_addr"], parsed["remote_user"],
                parsed["http_x_forwarded_for"], parsed["request"],
                parsed["http_user_agent"], parsed["http_referer"],
                parsed["time_local"], parsed["status"],
                _hour_key_arrow(parsed["time_local"]),
                pc.if_else(
                    pc.and_kleene(valid, pc.not_equal(parsed["status"], "200")),
                    pc.binary_join_element_wise(parsed["status"], parsed["request"], _SEP),
                    pa.scalar(None, pa.string()),
                ),
            ]
            for dim_id, key in enumerate(keys):
                key = pc.if_else(valid, key, pa.scalar(None, pa.string()))
                t = pa.table({"key0": key, "b": body})
                g = t.group_by("key0").aggregate([("b", "sum"), ("b", "count")])
                g = g.filter(pc.is_valid(g.column("key0")))
                parts.append(
                    pa.table(
                        {
                            "dim_id": pa.array([dim_id] * len(g), pa.int32()),
                            "key0": g.column("key0"),
                            "cnt": pc.cast(g.column("b_count"), pa.int64()),
                            "bytes": g.column("b_sum"),
                        }
                    )
                )
        if not parts:
            return
        merged = (
            pa.concat_tables(parts)
            .group_by(["dim_id", "key0"])
            .aggregate([("cnt", "sum"), ("bytes", "sum")])
        )
        out = pa.table(
            {
                "dim_id": merged.column("dim_id"),
                "key0": merged.column("key0"),
                "cnt": merged.column("cnt_sum"),
                "bytes": merged.column("bytes_sum"),
            }
        )
        for batch in out.to_batches(max_chunksize=1 << 20):
            yield batch

    partials = seq.mapInArrow(op, "dim_id int, key0 string, cnt long, bytes long")
    return _rank_partials(partials, k)

