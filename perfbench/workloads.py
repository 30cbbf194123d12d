"""The benchmark's workloads: one operation each, its output check and the
per-layer figures a traced operation yields.

An operation calls the package only through public functions, the way
``jobs/run_pipeline.py --report`` and a dedup job would.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from fixtures import REPORT_WIDTH, SHINGLE_K, THRESHOLD, docs_fixture, log_fixture
from nginx_log_spark.functions import prefix_jaccard_pairs
from nginx_log_spark.pipeline import run_pipeline
from nginx_log_spark.reports.render import render_full_report
from spans import Span, StatusReader, Tracer, covered, metric_stage, metric_total

# input sizes: one run (a cold ~20 s session and the measured operation)
# stays under a minute on a 4-core box, so a round of 22 runs per workload
# fits in under an hour. NEAR_DUP_DOCS is half the 5,000 docs the document
# model was measured on: one operation on 5,000 took ~34 s cold.
INGEST_LINES = 100_000
NEAR_DUP_DOCS = 2_500

LAYER_METRICS = {
    # name: unit
    "session.start_s": "s",
    "session.warm_s": "s",
    "session.peak_rss_mb": "MB",
    "parse.s": "s",
    "parse.python_s": "s",
    "parse.bytes_from_python": "B",
    "parse.rows_valid": "count",
    "parse.rows_rejected": "count",
    "reports.s": "s",
    "reports.render_s": "s",
    "reports.partial_rows": "count",
    "reports.shuffle_bytes": "B",
    "reports.rows_out": "count",
    "enrich.s": "s",
    "enrich.match_ratio": "ratio",
    "route.write_s": "s",
    "route.files": "count",
    "route.bytes_written": "B",
    "route.rows_routed": "count",
    "route.rows_rejected": "count",
    "checkpoint.metrics_s": "s",
    "dedup.s": "s",
    "dedup.python_s": "s",
    "dedup.candidate_rows": "count",
    "dedup.pairs": "count",
    "dedup.verify_ratio": "ratio",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.cpu_run_ratio": "ratio",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.scaling_1toN": "ratio",
    "trace.overhead_s": "s",
}


def _python_nodes(nodes):
    return [n for n in nodes if n.name == "MapInArrow" and "time to run Python workers" in n.metrics]


def spark_figures(reader: StatusReader, tracer: Tracer, op: Span) -> dict[str, float]:
    """Stage totals over every job the operation's spans ran."""
    spans = [op] + [s for s in tracer.spans if s.run == op.run and s is not op]
    jobs = [j for s in spans for j in reader.job_ids(s.group)]
    stages = reader.stages(jobs)
    run = sum(s.run_s for s in stages)
    cpu = sum(s.cpu_s for s in stages)
    return {
        "spark.executor_run_s": run,
        "spark.executor_cpu_s": cpu,
        "spark.cpu_run_ratio": cpu / run if run else 0.0,
        "spark.gc_s": sum(s.gc_s for s in stages),
        "spark.shuffle_write_bytes": sum(s.shuffle_write_bytes for s in stages),
        "spark.spill_bytes": sum(s.spill_bytes for s in stages),
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
    }


class Ingest:
    """``run_pipeline`` writing its sinks, then what ``jobs/run_pipeline.py
    --report`` consumes: the metrics, the report, and the enriched rows
    (through a (country, ua_class) rollup, the only consumer of enrich)."""

    name = "ingest"

    def __init__(self, work: Path, seed: int, rows: int = INGEST_LINES):
        self.fx = log_fixture(work, rows, seed)
        self.records = rows
        self.out_root = work / "out"

    def prepare(self, spark) -> None:
        self.spark = spark
        self.seq = spark.read.parquet(self.fx.seq_path)

    def op(self, tracer: Tracer, i: int) -> dict:
        out = self.out_root / f"ingest-{i}"
        with tracer.span("pipeline.run_pipeline"):
            res = run_pipeline(self.spark, self.seq, str(out))
        with tracer.span("checkpoint.partition_metrics"):
            metrics = res.metrics.collect()
        with tracer.span("reports.render_full_report"):
            report = render_full_report(
                res.parsed.filter(F.col("valid")), width=REPORT_WIDTH, color=False
            )
        with tracer.span("enrich.rollup"):
            rollup = res.accepted.groupBy("country", "ua_class").count().collect()
        res.parsed.unpersist()
        return {"out": out, "metrics": metrics, "report": report, "rollup": rollup}

    def check(self, o: dict) -> list[str]:
        fx, bad = self.fx, []
        m = o["metrics"]
        got = (sum(r["rows"] for r in m), sum(r["accepted"] for r in m), sum(r["rejected"] for r in m))
        if got != (fx.rows, fx.valid, fx.rows - fx.valid):
            bad.append(f"metrics rows/accepted/rejected {got}")
        if o["report"] != fx.report:
            bad.append("report text differs from the expected report")
        rollup = {f"{r['country'] or 'null'}|{r['ua_class']}": r["count"] for r in o["rollup"]}
        if rollup != fx.rollup:
            bad.append("(country, ua_class) rollup differs")
        sinks = ds.dataset(o["out"], format="parquet", partitioning="hive").to_table(
            columns=["doc_id", "tokens", "sink", "status_class", "source"]
        )
        counts = sinks.group_by(["sink", "status_class", "source"]).aggregate([("doc_id", "count")])
        got_counts = {
            f"{a}|{b}|{c}": n
            for a, b, c, n in zip(*(counts.column(k).to_pylist() for k in ("sink", "status_class", "source", "doc_id_count")))
        }
        if got_counts != fx.sink_counts:
            bad.append("per-(sink, status_class, source) row counts differ")
        if sinks.num_rows != fx.rows:
            bad.append(f"routed + rejected rows {sinks.num_rows} != input {fx.rows}")
        elif not _same_tokens(sinks, pq.read_table(fx.seq_path, columns=["doc_id", "tokens"])):
            bad.append("sink tokens differ from input tokens")
        o["sinks"] = sinks
        return bad

    def layer_figures(self, reader: StatusReader, tracer: Tracer, op: Span, o: dict) -> dict[str, float]:
        call = {s.name: s for s in tracer.children(op)}
        f: dict[str, float] = {}

        write = call["pipeline.run_pipeline"]
        jobs = reader.job_ids(write.group)
        stages = {s.id: s for s in reader.stages(jobs)}
        py = _python_nodes(reader.plan_nodes(jobs))
        f["parse.python_s"] = sum(metric_total(n.metrics["time to run Python workers"]) for n in py)
        f["parse.bytes_from_python"] = sum(
            metric_total(n.metrics.get("data returned from Python workers", "0")) for n in py
        )
        # the parse runs fused into the write stage: its wall share is the
        # stage's wall apportioned by Python-worker time over task run time
        parse_s = 0.0
        for n in py:
            st = stages.get(metric_stage(n.metrics["time to run Python workers"]))
            if st and st.run_s:
                share = min(1.0, metric_total(n.metrics["time to run Python workers"]) / st.run_s)
                parse_s += (st.end - st.start) * share
        f["parse.s"] = parse_s
        f["route.write_s"] = write.wall - parse_s
        m = o["metrics"]
        f["parse.rows_valid"] = sum(r["accepted"] for r in m)
        f["parse.rows_rejected"] = sum(r["rejected"] for r in m)

        sinks = o["sinks"]
        routed = pc.sum(pc.equal(sinks.column("sink"), "routed")).as_py() or 0
        f["route.rows_routed"] = routed
        f["route.rows_rejected"] = sinks.num_rows - routed
        files = [p for p in Path(o["out"]).rglob("*.parquet") if not p.name.startswith(".")]
        f["route.files"] = len(files)
        f["route.bytes_written"] = sum(p.stat().st_size for p in files)

        f["checkpoint.metrics_s"] = call["checkpoint.partition_metrics"].wall

        rep = call["reports.render_full_report"]
        jobs = reader.job_ids(rep.group)
        stages = reader.stages(jobs)
        job_spans = [reader.job_interval(j) for j in jobs]
        f["reports.s"] = rep.wall
        f["reports.render_s"] = rep.wall - covered(job_spans, rep.start, rep.end)
        # rows the scan-side stages hand to the final aggregation
        f["reports.partial_rows"] = sum(
            s.shuffle_write_records for s in stages if s.shuffle_read_records == 0
        )
        f["reports.shuffle_bytes"] = sum(s.shuffle_write_bytes for s in stages)
        f["reports.rows_out"] = _result_rows(reader.plan_nodes(jobs))

        enr = call["enrich.rollup"]
        f["enrich.s"] = enr.wall
        total = sum(r["count"] for r in o["rollup"])
        matched = sum(r["count"] for r in o["rollup"] if r["country"] is not None)
        f["enrich.match_ratio"] = matched / total if total else 0.0
        return f

    def cleanup(self, i: int) -> None:
        shutil.rmtree(self.out_root / f"ingest-{i}", ignore_errors=True)


def _same_tokens(sinks: pa.Table, inp: pa.Table) -> bool:
    """Per-row invariant: every row's tokens leave exactly as they came."""
    a = sinks.select(["doc_id", "tokens"]).sort_by("doc_id")
    b = inp.sort_by("doc_id")
    ta, tb = a.column("tokens").combine_chunks(), b.column("tokens").combine_chunks()
    return (
        a.column("doc_id").equals(b.column("doc_id"))
        and pc.list_value_length(ta).equals(pc.list_value_length(tb))
        and ta.flatten().equals(tb.flatten())
    )


def _result_rows(nodes) -> float:
    """Rows out of the root-most plan node that counts rows, in the last
    SQL execution (the collect that feeds the renderer)."""
    last = max((n.execution for n in nodes), default=None)
    counted = [n for n in nodes if n.execution == last and "number of output rows" in n.metrics]
    return metric_total(min(counted, key=lambda n: n.id).metrics["number of output rows"]) if counted else 0.0


class NearDup:
    """Exact shingle-Jaccard near-duplicate pairs by prefix filtering."""

    name = "near_dup"

    def __init__(self, work: Path, seed: int, docs: int = NEAR_DUP_DOCS):
        self.fx = docs_fixture(work, docs, seed)
        self.records = docs

    def prepare(self, spark) -> None:
        self.docs = spark.read.parquet(self.fx.docs_path)

    def op(self, tracer: Tracer, i: int) -> dict:
        with tracer.span("functions.prefix_jaccard_pairs"):
            pairs = prefix_jaccard_pairs(
                self.docs, shingle_k=SHINGLE_K, threshold=THRESHOLD, broadcast_verify=True
            )
        with tracer.span("functions.prefix_jaccard_pairs.collect"):
            rows = pairs.select("id_a", "id_b").collect()
        return {"pairs": rows}

    def check(self, o: dict) -> list[str]:
        got = [(r["id_a"], r["id_b"]) for r in o["pairs"]]
        if len(got) != len(set(got)):
            return ["duplicate pairs in the result"]
        if set(got) != self.fx.pairs:
            return [f"pair set differs: {len(set(got) - self.fx.pairs)} extra, "
                    f"{len(self.fx.pairs - set(got))} missing"]
        return []

    def layer_figures(self, reader: StatusReader, tracer: Tracer, op: Span, o: dict) -> dict[str, float]:
        calls = tracer.children(op)
        jobs = [j for s in calls for j in reader.job_ids(s.group)]
        nodes = reader.plan_nodes(jobs)
        pairs = len(o["pairs"])
        # rows entering the exact verify: the smallest join output in the
        # pairs query that still exceeds the pair count
        last = max((n.execution for n in nodes), default=None)
        joins = [
            metric_total(n.metrics["number of output rows"]) for n in nodes
            if n.execution == last and "Join" in n.name and "number of output rows" in n.metrics
        ]
        candidates = min((r for r in joins if r > pairs), default=float(pairs))
        return {
            "dedup.s": sum(s.wall for s in calls),
            "dedup.python_s": sum(
                metric_total(n.metrics["time to run Python workers"]) for n in _python_nodes(nodes)
            ),
            "dedup.candidate_rows": candidates,
            "dedup.pairs": pairs,
            "dedup.verify_ratio": pairs / candidates if candidates else 0.0,
        }

    def cleanup(self, i: int) -> None:
        pass


WORKLOADS = {w.name: w for w in (Ingest, NearDup)}
