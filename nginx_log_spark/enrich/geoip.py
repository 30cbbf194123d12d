"""GeoIP / CIDR enrichment (north-star addition — the reference has no joins).

Longest-prefix CIDR lookup recast for Spark scale:

1. The CIDR dim table is SMALL (10^2-10^6 rows). We resolve
   longest-prefix-wins ON THE DIM TABLE, driver-side, by flattening the
   (possibly overlapping) prefix set into DISJOINT intervals with a sweep
   line. After that every IP matches AT MOST ONE interval, so no per-row
   window/dedup shuffle is ever needed on the 100 TB fact side.
2. The interval join itself is a broadcast EQUI-join on a /16 bucket key
   (dim intervals exploded into the buckets they span) plus a residual
   range filter — a hash join that whole-stage-codegens, instead of the
   O(rows x dim) broadcast-nested-loop a raw range predicate would plan.

IPv4 only; IPv6 (and malformed) addresses get null geo, like an IP covered
by no range (FIXTURES.md F5).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from nginx_log_spark.session import local_frame

BUCKET_BITS = 16  # /16 bucket key for the equi-join


def ip_to_int_col(ip: Column) -> Column:
    """dotted-quad string -> int64 (null for non-IPv4) — pure JVM, codegen.

    NB: inlines split() 8x; fine for small/one-off expressions. Plans over
    big facts should use with_ip_int(), which materializes the split once
    per row (codegen does not reliably CSE across the CASE branches — the
    inline form measured ~5x slower on a 2M-row scan)."""
    is_v4 = ip.rlike(r"^[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}$")
    p = F.split(ip, r"\.")
    val = (
        p.getItem(0).cast("long") * F.lit(16777216)
        + p.getItem(1).cast("long") * F.lit(65536)
        + p.getItem(2).cast("long") * F.lit(256)
        + p.getItem(3).cast("long")
    )
    ok = (
        is_v4
        & (p.getItem(0).cast("int") <= 255)
        & (p.getItem(1).cast("int") <= 255)
        & (p.getItem(2).cast("int") <= 255)
        & (p.getItem(3).cast("int") <= 255)
    )
    return F.when(ok, val).otherwise(F.lit(None))


def with_ip_int(df: DataFrame, ip_col: str, out_col: str = "_ip_int") -> DataFrame:
    """Two-step projection: split() materializes ONCE per row (the arrays
    are referenced 8x downstream, so CollapseProject keeps the boundary)."""
    # F.get is null-safe on out-of-bounds (IPv6 splits to 1 element and
    # ANSI-mode getItem would throw once codegen hoists the subexpression)
    p = [F.get(F.col("__ipp"), i) for i in range(4)]
    val = (
        p[0].cast("long") * F.lit(16777216)
        + p[1].cast("long") * F.lit(65536)
        + p[2].cast("long") * F.lit(256)
        + p[3].cast("long")
    )
    ok = (F.size(F.col("__ipp")) == 4)
    for i in range(4):
        ok = ok & p[i].rlike("^[0-9]{1,3}$") & (p[i].cast("int") <= 255)
    return (
        df.withColumn("__ipp", F.split(F.col(ip_col), r"\."))
        .withColumn(out_col, F.when(ok, val).otherwise(F.lit(None)))
        .drop("__ipp")
    )


def _cidr_to_range(cidr: str) -> tuple[int, int, int]:
    ip, _, plen = cidr.partition("/")
    plen = int(plen) if plen else 32
    a, b, c, d = (int(x) for x in ip.split("."))
    base = (a << 24) | (b << 16) | (c << 8) | d
    mask = ((1 << plen) - 1) << (32 - plen) if plen else 0
    lo = base & mask
    hi = lo | ((1 << (32 - plen)) - 1)
    return lo, hi, plen


def flatten_cidrs(rules: list[dict]) -> list[dict]:
    """Sweep-line flatten of overlapping CIDRs into disjoint intervals,
    longest prefix (most specific) winning inside each overlap.

    rules: [{cidr, country, asn}, ...] -> [{start_ip, end_ip, country, asn,
    prefix_len}, ...] with non-overlapping [start_ip, end_ip] ranges.
    """
    spans = []
    for r in rules:
        lo, hi, plen = _cidr_to_range(r["cidr"])
        spans.append((lo, hi, plen, r))
    # boundary sweep: at every boundary point the winner is the covering
    # span with the largest prefix_len (ties: first in input)
    points = sorted({p for lo, hi, _, _ in spans for p in (lo, hi + 1)})
    out: list[dict] = []
    for i in range(len(points) - 1):
        seg_lo, seg_hi = points[i], points[i + 1] - 1
        cover = [s for s in spans if s[0] <= seg_lo and s[1] >= seg_hi]
        if not cover:
            continue
        best = max(cover, key=lambda s: s[2])
        prev = out[-1] if out else None
        if (
            prev
            and prev["end_ip"] == seg_lo - 1
            and prev["country"] == best[3].get("country")
            and prev["asn"] == best[3].get("asn")
            and prev["prefix_len"] == best[2]
        ):
            prev["end_ip"] = seg_hi  # merge adjacent identical segments
        else:
            out.append(
                {
                    "start_ip": seg_lo,
                    "end_ip": seg_hi,
                    "prefix_len": best[2],
                    "country": best[3].get("country"),
                    "asn": best[3].get("asn"),
                }
            )
    return out


def _bucketed_intervals(flat: list[dict]) -> list[dict]:
    """Explode each disjoint interval into the /16 buckets it spans (dim-side
    explode: tiny). Join key = ip_int >> (32 - BUCKET_BITS)."""
    shift = 32 - BUCKET_BITS
    out = []
    for r in flat:
        for b in range(r["start_ip"] >> shift, (r["end_ip"] >> shift) + 1):
            out.append({**r, "bucket": b})
    return out


def enrich_geoip(
    df: DataFrame,
    rules: list[dict],
    ip_col: str = "remote_addr",
    spark: SparkSession | None = None,
) -> DataFrame:
    """Left-join geo columns (country, asn) onto df via longest-prefix CIDR.

    Plan shape: scan -> project(ip_int, bucket) -> BroadcastHashJoin(bucket)
    -> residual range filter. Zero shuffles on the fact side.
    """
    spark = spark or df.sparkSession
    dim_rows = _bucketed_intervals(flatten_cidrs(rules))
    if not dim_rows:
        return df.withColumn("country", F.lit(None).cast("string")).withColumn(
            "asn", F.lit(None).cast("string")
        )
    cols = ("start_ip", "end_ip", "prefix_len", "country", "asn", "bucket")
    # a LocalRelation: the broadcast starts no Python worker
    dim = local_frame(
        spark,
        [tuple(r[c] for c in cols) for r in dim_rows],
        "start_ip long, end_ip long, prefix_len int, country string, asn string, bucket long",
    )
    shift = 32 - BUCKET_BITS
    fact = with_ip_int(df, ip_col, "_ip_int").withColumn(
        "_bucket", F.shiftright(F.col("_ip_int"), shift)
    )
    joined = fact.join(
        F.broadcast(dim),
        (fact["_bucket"] == dim["bucket"])
        & (fact["_ip_int"] >= dim["start_ip"])
        & (fact["_ip_int"] <= dim["end_ip"]),
        "left",
    )
    return joined.drop("start_ip", "end_ip", "prefix_len", "bucket", "_bucket", "_ip_int")


def default_cidr_table() -> list[dict]:
    """~100 deterministic CIDRs partially covering the datagen IP pool, with
    overlapping more-specific prefixes so longest-prefix-wins is exercised;
    third octets not ≡ 0-3 (mod 5) stay uncovered -> null geo (FIXTURES.md F5)."""
    rules: list[dict] = []
    countries = ["US", "DE", "CN", "FR", "BR", "IN", "JP", "GB"]
    for k in range(96):
        a, b = divmod(k, 48)
        rules.append(
            {
                "cidr": f"10.{a}.{b * 5}.0/22" if k % 2 == 0 else f"10.{a}.{b * 5}.0/24",
                "country": countries[k % len(countries)],
                "asn": f"AS{64500 + k}",
            }
        )
    # more-specific override inside the hot /22 above it (longest-prefix test)
    rules.append({"cidr": "10.0.0.0/30", "country": "AQ", "asn": "AS64999"})
    return rules
