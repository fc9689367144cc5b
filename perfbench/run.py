"""Benchmark of the data_quality_spark engine, end to end and layer by layer.

Run from the root of a checkout:

    python3 perfbench/run.py --workload flagship_filter --seed 1 --seconds 15 --trace 0

Workloads (see perfbench/README.md for why each exists):
- flagship_filter    seeded `schema.synthesize_pages` pages (~300 chars)
                     through the keep/drop pipeline to partitioned parquet;
- flagship_longdocs  the same pipeline over size-skewed pages
                     (`perfbench/longdocs.py`, log-normal lengths into MBs);
- contract_suite     a fixed subset of the `queries.QUERIES` registry on the
                     sf0.01 tables in perfbench/data, each query verified
                     against its DuckDB oracle once in set-up.

One closed-loop driver process issues one pass at a time on
`local[<cores>]`; no client threads.  A pass runs from the input to a
verified result.  After set-up (session start, input generation, warm-up)
the benchmark runs passes until `--seconds` have elapsed (and at least
`min_passes`) and reports medians in host-adjusted seconds: each pass is
scaled by a fixed reference job timed around it (perfbench/README.md, Host
speed).  Set-up time is reported as measured.  `--trace 1` reports the per-layer metrics instead, from one more
pass with spans and Spark counters plus each layer forced alone.

The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import threading
import time
import traceback
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent

FILTER_DOCS = 6_000
LONG_DOCS = 1_200                # multiple of longdocs.GEN_PARTITIONS
GEN_REPEATS = 3                  # input generations per run; setup_s takes the median
FILTER_SAMPLE_MOD = 60           # oracle sample: 1 in 60 pages
LONG_SAMPLE_MOD = 16             # 1 in 16 pages of at most LONG_SAMPLE_MAX_CHARS
LONG_SAMPLE_MAX_CHARS = 65_536   # the Python oracle is slow on MB-sized pages
KERNEL_SAMPLE_DOCS = 200         # pages timed per kernel in the traced run
REF_ROWS = 30_000                # rows of the reference job
REF_NOMINAL_S = 1.0              # the reference job's time that host-adjusted seconds assume
REF_ELASTICITY = 0.6             # how far a pass follows the reference job; README, Host speed
REF_WARM = 2                     # reference jobs run before its timed ones
SF_DIR = BENCH_DIR / "data" / "sf0.01"
SF_DOCUMENTS = 500               # rows of sf0.01 documents

# Two of the three literal-heavy plan builds (one of them the native text
# features), scrub, and three cheap profiling queries: the slice of
# bench.py's HEADLINE list that one run can afford past its warm-up drift.
CONTRACT_QUERIES = (
    "umalqura_convert_orders",
    "doc_textstats",
    "scrub_docs",
    "standardize_nation",
    "quantiles_lquantity",
    "topk_event_types",
)
# Run in the traced run only, after the timed suite: iterative connected
# components and PageRank (still speeding up after seven executions in one
# JVM; they give the matching.* and pagerank.* metrics), the third
# literal-heavy build, and the flagship query, which a run has no time for
# (perfbench/README.md).
TRACE_ONLY_QUERIES = (
    "dedup_clusters_global",
    "domain_pagerank",
    "phone_metadata_customers",
    "quality_pipeline_docs",
)
# The queries that run the flagship pipeline's layers (text features,
# scrub) over the sf0.01 documents: the suite's docs_per_s.
DOC_QUERIES = ("doc_textstats", "scrub_docs")
LITERAL_QUERIES = ("umalqura_convert_orders", "phone_metadata_customers", "doc_textstats")

# Per-layer metrics of a traced run.  A layer a workload never calls
# reports 0: the flagship workloads do not use the queries registry or
# the iterative jobs, and the contract suite writes nothing and runs the
# pipeline layers fused inside its queries (see perfbench/README.md).
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "sources.scan_s": "s",
    "sources.write_s": "s",
    "sources.bytes_written": "B",
    "analyze.wall_s": "s",
    "analyze.udf_s": "s",
    "analyze.python_bytes_sent": "B",
    "analyze.python_bytes_received": "B",
    "analyze.features_ms_per_doc": "ms",
    "analyze.langid_ms_per_doc": "ms",
    "analyze.perplexity_ms_per_doc": "ms",
    "rules.exprs_s": "s",
    "scrub.expr_s": "s",
    "decide.expr_s": "s",
    "metrics.observe_s": "s",
    "queries.build_s": "s",
    "queries.plan_s": "s",
    "queries.execute_s": "s",
    "queries.catalyst_analysis_s": "s",
    "queries.catalyst_optimization_s": "s",
    "queries.catalyst_planning_s": "s",
    "queries.literal_build_s": "s",
    "matching.cc_jobs": "count",
    "matching.cc_stages": "count",
    "matching.cc_s": "s",
    "pagerank.jobs": "count",
    "pagerank.s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.gc_s": "s",
    "trace.coverage": "ratio",
    "trace.overhead_s": "s",
    "process.peak_rss_mb": "MB",
    "error_rate": "ratio",
}

END_TO_END_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "docs_per_s": "1/s",
    "query_p50_s": "s",
    "query_p90_s": "s",
}


def info(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# --- process tree ---------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        if fields[0] != "Z":
            kids.setdefault(int(fields[1]), []).append(int(d))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared by forked Python workers count
    once across the tree, not once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError):
        pass
    return 0


class PeakRss:
    """Samples the memory of this process and all its descendants (the
    Spark JVM and its Python workers) every `interval` seconds; the peak
    of the summed proportional set sizes."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(_pss_bytes(p) for p in tree_pids(os.getpid())))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# --- Spark helpers ----------------------------------------------------------


def start_session(work: Path, cores: int):
    from data_quality_spark.session import get_spark

    # the driver heap is the program's own default (session.get_spark)
    conf = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        "spark.ui.showConsoleProgress": "false",
        # keep every job and stage of a run for the traced counters
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, its JVM and the Python workers, and wait for all of them."""
    from pyspark import SparkContext

    pids = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in pids if p in set(tree_pids(os.getpid()))]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        os.kill(p, 9)


def checksum_agg(df):
    """Row count and all-column checksum of `df` as a one-row aggregate
    that materializes every column (`count()` alone would let Catalyst
    prune the work)."""
    from pyspark.sql import functions as F

    cols = [F.col(c).cast("string") for c in sorted(df.columns)]
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64(*cols), F.lit(1_000_003))).alias("chk"),
    )


def checksum(df):
    """(rows, checksum, the aggregate DataFrame that computed them)."""
    agg = checksum_agg(df)
    row = agg.collect()[0]
    return row["n"], row["chk"], agg


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def quantile(values: list[float], q: int) -> float:
    """q-th percentile (inclusive method; the median for one value)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


# --- host speed ----------------------------------------------------------------


def _ref_kernel(batches):
    """Python side of the reference job: a fixed per-character loop."""
    import pyarrow as pa

    for b in batches:
        n = [sum(1 for ch in t if ch in "abcdef") for t in b.column(0).to_pylist()]
        yield pa.RecordBatch.from_arrays([pa.array(n, pa.int64())], ["n"])


REF_BRANCHES = {"executors": 60, "driver": 150}
REF_CONF = {
    "spark.sql.shuffle.partitions": "4",
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
}


def reference_s(spark, kind: str) -> float:
    """Seconds of a reference job: a fixed pyspark job, with its own SQL
    settings, that runs none of the program's code.  Both kinds build a
    CASE expression through py4j and have Catalyst plan it.
    - "executors", shaped like the flagship: a 60-branch CASE, then a JVM
      regex and a Python Arrow loop over REF_ROWS rows on every core, then
      an aggregate;
    - "driver", shaped like the contract suite: a 150-branch CASE over a
      few thousand rows and a small grouped aggregate, so most of its time
      is driver-side plan building and Catalyst."""
    from pyspark.sql import functions as F

    saved = {k: spark.conf.get(k) for k in REF_CONF}
    for k, v in REF_CONF.items():
        spark.conf.set(k, v)
    try:
        t0 = time.perf_counter()
        branches = REF_BRANCHES[kind]
        key = F.col("id") % 997
        case = F.when(key == 0, F.lit("k0"))
        for k in range(1, branches):
            case = case.when(key == k, F.lit(f"k{k}"))
        if kind == "executors":
            text = F.concat(F.col("id").cast("string"), case.otherwise(""))
            df = spark.range(0, REF_ROWS, 1, 8).select(
                F.regexp_replace(F.repeat(F.sha2(text, 256), 4), "[0-9]+", "#").alias("t")
            )
            df.mapInArrow(_ref_kernel, "n long").agg(F.sum("n")).collect()
        else:
            df = spark.range(0, 4_000, 1, 4).select(case.otherwise("").alias("k"))
            df.groupBy("k").count().agg(F.sum("count")).collect()
        return time.perf_counter() - t0
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


# --- flagship workloads -------------------------------------------------------


class Flagship:
    """Input pages → `apply_quality_pipeline` → `observe_rule_metrics` →
    `write_output(partition_by=["keep"])`, which is `pipeline.run` with
    buckets=0, then a check of the written output."""

    warm_passes = 2  # passes 3 on are flat (perfbench/README.md, Steadiness)
    reference_job = "executors"
    min_passes = 4

    def __init__(self, name: str, spark, work: Path, seed: int, tracer):
        self.name, self.spark, self.work, self.seed, self.tracer = name, spark, work, seed, tracer
        self.long = name == "flagship_longdocs"
        self.n_docs = LONG_DOCS if self.long else FILTER_DOCS
        self.input = str(work / "pages")
        self.output = str(work / "out")
        self.expected: dict[str, tuple] = {}
        self.reference = None
        self.attempted = self.failed = 0

    def make_pages(self):
        if self.long:
            from longdocs import synthesize_long_pages

            return synthesize_long_pages(self.spark, self.n_docs, self.seed)
        from data_quality_spark.schema import synthesize_pages

        return synthesize_pages(self.spark, self.n_docs, seed=self.seed)

    def _sample_filter(self):
        from pyspark.sql import functions as F

        mod = LONG_SAMPLE_MOD if self.long else FILTER_SAMPLE_MOD
        return F.pmod(F.xxhash64(F.col("url"), F.lit(self.seed)), F.lit(mod)) == 0

    def setup(self) -> float:
        """Generate the input GEN_REPEATS times and compute the oracle
        verdicts of the sample; returns the median generation time (the
        oracle's time is not the program's and is only printed)."""
        from pyspark.sql import functions as F

        gen = []
        for _ in range(GEN_REPEATS):
            t, _ = timed(lambda: self.make_pages().write.mode("overwrite").parquet(self.input))
            gen.append(t)
        t0 = time.perf_counter()
        pages = self.spark.read.parquet(self.input)
        sample = pages.where(self._sample_filter())
        if self.long:
            sample = sample.where(F.length("text") <= LONG_SAMPLE_MAX_CHARS)
        for r in sample.select("url", "text").collect():
            self.expected[r["url"]] = oracle_verdict(r["text"])
        if self.long:
            lengths = sorted(
                r[0] for r in pages.select(F.length(F.encode("text", "UTF-8"))).collect()
            )
            info(
                f"{self.name}: text bytes median={statistics.median(lengths):.0f} "
                f"p99={lengths[int(0.99 * (len(lengths) - 1))]} max={lengths[-1]} "
                f"total={sum(lengths)}"
            )
        info(f"{self.name}: {len(self.expected)} sampled pages checked against the oracle each pass "
             f"(oracle {time.perf_counter() - t0:.2f} s, not in setup_s)")
        return statistics.median(gen)

    def run_pass(self) -> tuple[float, dict[str, float]]:
        """One pass; returns its wall time and its query latencies (the
        pass is one query here)."""
        from data_quality_spark.metrics import observe_rule_metrics
        from data_quality_spark.pipeline import apply_quality_pipeline, output_columns
        from data_quality_spark.sources.iceberg import read_pages, write_output

        tr = self.tracer
        t0 = time.perf_counter()
        try:
            with tr.span("sources.read_pages"):
                pages = read_pages(self.spark, self.input)
            with tr.span("pipeline.apply_quality_pipeline"):
                out = apply_quality_pipeline(pages).select(*output_columns())
            with tr.span("metrics.observe_rule_metrics"):
                out, obs = observe_rule_metrics(out)
            with tr.span("sources.write_output"):
                write_output(out, self.output, partition_by=["keep"])
            with tr.span("verify"):
                self.verify(obs.get["rows_total"])
        except Exception:  # a failed pass counts in error_rate; the run goes on
            traceback.print_exc()
            self.attempted += 1
            self.failed += 1
        wall = time.perf_counter() - t0
        return wall, {"pipeline": wall}

    def verify(self, observed_rows: int) -> None:
        """Row count and checksum of the written output (equal across
        passes), and keep/reasons/scrubbed_text of the sample against the
        oracle."""
        from pyspark.sql import functions as F

        # `keep` comes back as a partition directory name
        written = self.spark.read.parquet(self.output).withColumn("keep", F.col("keep").cast("boolean"))
        n, chk, _ = checksum(written)
        if self.reference is None:
            self.reference = (n, chk)
        self.attempted += 1
        if not (n == observed_rows == self.n_docs and (n, chk) == self.reference):
            self.failed += 1
            info(f"{self.name}: output rows={n} observed={observed_rows} checksum={chk} "
                 f"expected rows={self.n_docs} reference={self.reference}")
        got = {
            r["url"]: (r["keep"], list(r["reasons"]), r["scrubbed_text"])
            for r in written.where(F.col("url").isin(list(self.expected)))
            .select("url", "keep", "reasons", "scrubbed_text")
            .collect()
        }
        for url, want in self.expected.items():
            self.attempted += 1
            g = got.get(url)
            if g is None or g[0] != want[0] or g[1] != want[1] or g[2].encode() != want[2].encode():
                self.failed += 1
                info(f"{self.name}: oracle mismatch at {url}: got {g and g[:2]} want {want[:2]}")

    # -- traced run ---------------------------------------------------------

    def trace_layers(self, traced_wall: float) -> dict[str, float]:
        """Each layer forced alone over the pass's input, and the kernels
        timed on the driver."""
        from pyspark.sql import functions as F

        from data_quality_spark import decide, rules, scrub
        from data_quality_spark.analyze import with_analysis
        from data_quality_spark.pipeline import output_columns
        from data_quality_spark.sources.iceberg import read_pages, write_output
        from tracing import python_udf_metrics

        spark, tr = self.spark, self.tracer
        m: dict[str, float] = {}
        pages = read_pages(spark, self.input)
        with tr.span("isolate.sources.scan"):
            m["sources.scan_s"], _ = timed(lambda: checksum(pages.select("url", "warc_ts", "text", "lang")))
        analyzed = with_analysis(pages).cache()
        with tr.span("isolate.analyze"):
            t_an, (_, _, agg) = timed(lambda: checksum(analyzed))
        udf = python_udf_metrics(agg, "analyze_text")
        m["analyze.wall_s"] = max(0.0, t_an - m["sources.scan_s"])
        m["analyze.udf_s"] = udf["udf_s"]
        m["analyze.python_bytes_sent"] = udf["bytes_sent"]
        m["analyze.python_bytes_received"] = udf["bytes_received"]
        base, _ = timed(lambda: checksum(analyzed.select("url")))
        with tr.span("isolate.rules"):
            ruled_cols = rules.attach_rules(analyzed).select(*[f"rule_{n}" for n in rules.RULE_NAMES])
            t, _ = timed(lambda: checksum(ruled_cols))
            m["rules.exprs_s"] = max(0.0, t - base)
        with tr.span("isolate.scrub"):
            t, _ = timed(lambda: checksum(analyzed.select(scrub.scrub_expr(F.col("text")).alias("s"))))
            m["scrub.expr_s"] = max(0.0, t - base)
        ruled = rules.attach_rules(analyzed).drop("lang_conf").cache()
        checksum(ruled.select("url", *[f"rule_{n}" for n in rules.RULE_NAMES]))
        base, _ = timed(lambda: checksum(ruled.select("url")))
        with tr.span("isolate.decide"):
            t, _ = timed(lambda: checksum(decide.with_decision(ruled).select("keep", "reasons")))
            m["decide.expr_s"] = max(0.0, t - base)
        final = (
            decide.with_decision(ruled.withColumn("scrubbed_text", scrub.scrub_expr(F.col("text"))))
            .select(*output_columns())
            .cache()
        )
        checksum(final)
        base, _ = timed(lambda: checksum(final.select("url")))
        with tr.span("isolate.sources.write"):
            t, _ = timed(lambda: write_output(final, str(self.work / "isolated_out"), partition_by=["keep"]))
            m["sources.write_s"] = max(0.0, t - base)
        for df in (final, ruled, analyzed):
            df.unpersist()
        m["sources.bytes_written"] = dir_bytes(Path(self.output))
        m["metrics.observe_s"] = tr.total("metrics.observe_rule_metrics")
        m.update(kernel_times(self.kernel_sample()))
        covered = (
            m["sources.scan_s"] + m["analyze.wall_s"] + m["rules.exprs_s"] + m["scrub.expr_s"]
            + m["decide.expr_s"] + m["metrics.observe_s"] + m["sources.write_s"]
        )
        m["trace.coverage"] = covered / traced_wall
        return m

    def kernel_sample(self) -> list[str]:
        """KERNEL_SAMPLE_DOCS pages evenly spaced in length order, so the
        sample follows the input's length distribution for any seed."""
        from pyspark.sql import functions as F

        rows = self.spark.read.parquet(self.input).select("url", F.length("text").alias("n")).collect()
        rows.sort(key=lambda r: (r["n"], r["url"]))
        step = max(1, len(rows) // KERNEL_SAMPLE_DOCS)
        urls = [r["url"] for r in rows[step // 2 :: step]]
        texts = self.spark.read.parquet(self.input).where(F.col("url").isin(urls)).select("text").collect()
        return [r["text"] for r in texts]


def oracle_verdict(text: str | None) -> tuple:
    """(keep, reasons, scrubbed_text) by the pure-Python rule oracle of the
    test suite; reasons in the pipeline's order (failed rules in registry
    order, then language, then perplexity)."""
    from data_quality_spark.decide import ALLOWED_LANGS, MAX_PERPLEXITY
    from data_quality_spark.rules import RULE_NAMES
    from tests.oracle import label_row

    o = label_row(text)
    reasons = [n for n in RULE_NAMES if not o["verdicts"][n]]
    if o["lang"] not in ALLOWED_LANGS:
        reasons.append("language")
    if o["lang"] == "en" and not o["ppl"] <= MAX_PERPLEXITY:
        reasons.append("perplexity")
    return o["keep"], reasons, o["scrubbed"]


def kernel_times(texts: list[str]) -> dict[str, float]:
    """Per-page driver-side time of the three kernels the fused analysis
    UDF runs, called the way `analyze.analyze_text` calls them."""
    from data_quality_spark.functions.textstats import compute_features_py
    from data_quality_spark.langid import _get_model
    from data_quality_spark.perplexity import _MAX_CHARS, _get_lm

    model, lm = _get_model(), _get_lm()
    live = [t for t in texts if t is not None and t.strip()]
    t_feat, _ = timed(lambda: [compute_features_py(t) for t in texts])
    t_lang, _ = timed(lambda: [model._classify(t) for t in live])
    t_ppl, _ = timed(lambda: [lm._ppl(t[:_MAX_CHARS]) for t in live])
    n = max(1, len(texts))
    return {
        "analyze.features_ms_per_doc": 1000 * t_feat / n,
        "analyze.langid_ms_per_doc": 1000 * t_lang / n,
        "analyze.perplexity_ms_per_doc": 1000 * t_ppl / n,
    }


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


# --- contract suite ---------------------------------------------------------------


class ContractSuite:
    """CONTRACT_QUERIES one at a time, in a seeded order, each forced with
    the all-column checksum aggregate and checked against the (rows,
    checksum) it had when set-up verified it against its DuckDB oracle.
    TRACE_ONLY_QUERIES run in the traced run only."""

    warm_passes = 1  # the suite's third execution is past the steep drift (README)
    reference_job = "driver"
    min_passes = 5

    def __init__(self, name: str, spark, work: Path, seed: int, tracer):
        self.name, self.spark, self.seed, self.tracer = name, spark, seed, tracer
        self.order = random.Random(seed).sample(CONTRACT_QUERIES, len(CONTRACT_QUERIES))
        self.sf = str(SF_DIR)
        self.reference: dict[str, tuple] = {}
        self.attempted = self.failed = 0
        self.traced: dict[str, float] = {}

    def setup(self) -> float:
        """Compare each query with its DuckDB oracle, and record the (rows,
        checksum) of the verified result from the same cached execution.
        Returns the time of the Spark side; the oracle's is only printed."""
        oracle_s = self.verify(self.order)
        t = self.verify_s - oracle_s
        info(f"{len(self.order)} queries verified: Spark {t:.2f} s, DuckDB oracle {oracle_s:.2f} s (not in setup_s)")
        return t

    def verify(self, names) -> float:
        """Verify `names` against their oracles; returns the oracle's time
        and leaves the whole time in `verify_s`."""
        import tests.parity as parity
        from data_quality_spark.queries import ORACLES, QUERIES

        oracle_s = 0.0
        run_oracle = parity.run_oracle

        def timed_oracle(*a):
            nonlocal oracle_s
            t, out = timed(lambda: run_oracle(*a))
            oracle_s += t
            return out

        parity.run_oracle = timed_oracle
        t0 = time.perf_counter()
        try:
            for name in names:
                self.attempted += 1
                try:
                    df = QUERIES[name](self.spark, self.sf).cache()
                    problems = parity.compare(self.spark, name, lambda *_: df, ORACLES[name], self.sf)
                    n, chk, _ = checksum(df)
                except Exception:
                    traceback.print_exc()
                    problems = [f"{name}: raised"]
                finally:
                    self.spark.catalog.clearCache()
                if problems:
                    self.failed += 1
                    info(f"oracle mismatch: {problems}")
                else:
                    self.reference[name] = (n, chk)
        finally:
            parity.run_oracle = run_oracle
        self.verify_s = time.perf_counter() - t0
        return oracle_s

    def run_pass(self) -> tuple[float, dict[str, float]]:
        """One pass over the queries; returns its wall time and each
        query's latency."""
        latency: dict[str, float] = {}
        t0 = time.perf_counter()
        for name in self.order:
            latency[name] = self.run_query(name)
        return time.perf_counter() - t0, latency

    def run_query(self, name: str) -> float:
        """Build, force and check one query; returns its latency."""
        from data_quality_spark.queries import QUERIES

        self.attempted += 1
        q0 = time.perf_counter()
        try:
            with self.tracer.span(f"queries.build:{name}"):
                df = QUERIES[name](self.spark, self.sf)
            result = self._force(name, df)
        except Exception:
            traceback.print_exc()
            result = None
        latency = time.perf_counter() - q0
        self.spark.catalog.clearCache()
        if result is None or result != self.reference.get(name):
            self.failed += 1
            info(f"{name}: rows/checksum {result} != verified {self.reference.get(name)}")
        return latency

    def _force(self, name: str, df):
        tr = self.tracer
        if not tr.enabled:
            n, chk, _ = checksum(df)
            return n, chk
        from tracing import catalyst_phases, python_udf_metrics

        agg = checksum_agg(df)
        with tr.span(f"queries.plan:{name}"):
            agg._jdf.queryExecution().executedPlan()
        with tr.span(f"queries.execute:{name}"):
            row = agg.collect()[0]
        t = self.traced
        if name in CONTRACT_QUERIES:
            for phase, s in catalyst_phases(agg).items():
                t[f"queries.catalyst_{phase}_s"] = t.get(f"queries.catalyst_{phase}_s", 0.0) + s
        udf = python_udf_metrics(agg, "analyze_text")
        t["analyze.udf_s"] = t.get("analyze.udf_s", 0.0) + udf["udf_s"]
        t["analyze.python_bytes_sent"] = t.get("analyze.python_bytes_sent", 0) + udf["bytes_sent"]
        t["analyze.python_bytes_received"] = t.get("analyze.python_bytes_received", 0) + udf["bytes_received"]
        return row["n"], row["chk"]

    def trace_layers(self, traced_wall: float) -> dict[str, float]:
        """The traced pass's query phases, then TRACE_ONLY_QUERIES: each
        verified against its oracle once (their first execution), then
        run once more with spans (CC and PageRank in their own job groups)."""
        from tracing import job_group

        tr = self.tracer
        m = {}
        phases = ("build", "plan", "execute")
        per = {
            p: sum(s.end - s.start for s in tr.spans
                   if s.name.startswith(f"queries.{p}:") and s.name.split(":", 1)[1] in CONTRACT_QUERIES)
            for p in phases
        }
        for p in phases:
            m[f"queries.{p}_s"] = per[p]
        m["queries.literal_build_s"] = sum(tr.total(f"queries.build:{q}") for q in LITERAL_QUERIES)
        m["trace.coverage"] = sum(per.values()) / traced_wall
        tr.enabled = False
        info(f"trace-only queries verified (oracle {self.verify(TRACE_ONLY_QUERIES):.2f} s)")
        tr.enabled = True
        with job_group(self.spark.sparkContext, "perfbench.trace_only"):
            for name in TRACE_ONLY_QUERIES:
                self.run_query(name)
        m.update(self.traced)
        docs = self.spark.read.parquet(str(SF_DIR / "documents.parquet")).select("text").collect()
        m.update(kernel_times([r["text"] for r in docs][:KERNEL_SAMPLE_DOCS]))
        return m


# --- traced pass wrappers ------------------------------------------------------------


class LayerWrappers:
    """Spans and job groups around the iterative layers' public entry
    points for the traced pass; the queries import them at call time."""

    TARGETS = (
        ("data_quality_spark.operators.matching", "cluster_matches", "matching.cc"),
        ("data_quality_spark.operators.pagerank", "pagerank_fixed", "pagerank"),
    )

    def __init__(self, sc, tracer):
        self.sc, self.tracer = sc, tracer
        self.saved = []

    def __enter__(self):
        import importlib

        from tracing import job_group

        for mod_name, attr, layer in self.TARGETS:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)

            def wrapped(*a, _orig=orig, _layer=layer, **kw):
                with self.tracer.span(_layer), job_group(self.sc, f"perfbench.{_layer}"):
                    return _orig(*a, **kw)

            self.saved.append((mod, attr, orig))
            setattr(mod, attr, wrapped)
        return self

    def __exit__(self, *exc):
        for mod, attr, orig in self.saved:
            setattr(mod, attr, orig)

    def metrics(self) -> dict[str, float]:
        from tracing import job_counters

        cc = job_counters(self.sc, ["perfbench.matching.cc"])
        pr = job_counters(self.sc, ["perfbench.pagerank"])
        return {
            "matching.cc_jobs": cc["jobs"],
            "matching.cc_stages": cc["stages"],
            "matching.cc_s": self.tracer.total("matching.cc"),
            "pagerank.jobs": pr["jobs"],
            "pagerank.s": self.tracer.total("pagerank"),
        }


# --- driver --------------------------------------------------------------------------------


WORKLOADS = {
    "flagship_filter": Flagship,
    "flagship_longdocs": Flagship,
    "contract_suite": ContractSuite,
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def measure(args, work: Path) -> dict:
    from tracing import Tracer, job_counters, job_group

    cores = len(os.sched_getaffinity(0))
    tracer = Tracer(enabled=False)
    with PeakRss() as rss:
        session_s, spark = timed(lambda: start_session(work, cores))
        info(f"session local[{cores}] started in {session_s:.2f} s")
        try:
            w = WORKLOADS[args.workload](args.workload, spark, work, args.seed, tracer)
            prep_s = w.setup()
            warm = [w.run_pass()[0] for _ in range(w.warm_passes)]
            setup_s = session_s + prep_s + sum(warm)
            info(f"setup {setup_s:.2f} s (session {session_s:.2f}, inputs {prep_s:.2f}, "
                 f"warm-up " + " ".join(f"{x:.3f}" for x in warm) + ")")
            ref_warm = [reference_s(spark, w.reference_job) for _ in range(REF_WARM)]
            # the reference job before each timed pass and after the last
            passes, latencies, refs = [], [], [reference_s(spark, w.reference_job)]
            t0 = time.perf_counter()
            while True:
                wall, lat = w.run_pass()
                refs.append(reference_s(spark, w.reference_job))
                passes.append(wall)
                latencies.append(lat)
                if time.perf_counter() - t0 >= args.seconds and len(passes) >= w.min_passes:
                    break
            info(f"{len(passes)} timed passes: " + " ".join(f"{p:.3f}" for p in passes))
            info("reference job: " + " ".join(f"{r:.3f}" for r in ref_warm + refs)
                 + f" (the first {REF_WARM} warm it up)")
            traced = {}
            if args.trace:
                tracer.enabled = True
                sc = spark.sparkContext
                with LayerWrappers(sc, tracer) as wrappers:
                    with job_group(sc, "perfbench.traced"), tracer.span("pass"):
                        traced_wall, _ = w.run_pass()
                    traced = w.trace_layers(traced_wall)
                traced.update(wrappers.metrics())
                spark_counters = job_counters(
                    sc, ["perfbench.traced", "perfbench.trace_only", "perfbench.matching.cc", "perfbench.pagerank"]
                )
                traced.update({f"spark.{k}": v for k, v in spark_counters.items()})
                traced["session.start_s"] = session_s
                # against the untraced pass just before, at the same point
                # past the warm-up
                traced["trace.overhead_s"] = traced_wall - passes[-1]
                out_dir = ROOT / ".perfbench_out"
                out_dir.mkdir(exist_ok=True)
                tracer.dump(out_dir / f"spans-{args.workload}-seed{args.seed}.json")
        finally:
            stop_session(spark)
    # host-adjusted seconds: each pass scaled by REF_NOMINAL_S over the mean
    # of the reference job just before and just after it, to the power
    # REF_ELASTICITY (README, Host speed)
    scale = [(2 * REF_NOMINAL_S / (a + b)) ** REF_ELASTICITY for a, b in zip(refs, refs[1:])]
    adj = [{q: t * k for q, t in d.items()} for d, k in zip(latencies, scale)]
    wall = statistics.median(p * k for p, k in zip(passes, scale))
    lat = [x for d in adj for x in d.values()]
    if isinstance(w, ContractSuite):
        docs_per_s = SF_DOCUMENTS * len(DOC_QUERIES) / statistics.median(
            sum(d[q] for q in DOC_QUERIES) for d in adj
        )
        for q in sorted(latencies[0], key=latencies[0].get):
            info(f"latency {q}: " + " ".join(f"{d[q]:.3f}" for d in latencies))
    else:
        docs_per_s = w.n_docs / wall
    info(f"{len(lat)} query latencies; {sum(x > quantile(lat, 90) for x in lat)} beyond p90")
    raw = [x for d in latencies for x in d.values()]
    info(f"as measured: setup_s {setup_s:.3f} wall_s {statistics.median(passes):.3f} "
         f"query_p50_s {statistics.median(raw):.3f} query_p90_s {quantile(raw, 90):.3f}")
    e2e = {
        # as measured: the reference job, timed after set-up, tracks
        # neither session start nor the cold first executions
        "setup_s": setup_s,
        "wall_s": wall,
        "docs_per_s": docs_per_s,
        "query_p50_s": statistics.median(lat),
        "query_p90_s": quantile(lat, 90),
    }
    info(f"peak_rss_mb {rss.peak / 2**20:.1f}")
    error_rate = w.failed / max(1, w.attempted)
    if args.trace:
        traced["error_rate"] = error_rate
        traced["process.peak_rss_mb"] = rss.peak / 2**20
        metrics = {k: {"value": traced.get(k, 0), "unit": u} for k, u in PER_LAYER_UNITS.items()}
        for k, m in metrics.items():
            info(f"  {k:34s} {m['value']:.6g} {m['unit']}")
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
    info(f"error_rate {error_rate:.4g} ({w.failed}/{w.attempted})")
    return {"correct": w.failed == 0, "attempted": w.attempted, "failed": w.failed, "metrics": metrics}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "data_quality_spark" / "__init__.py").is_file() or not SF_DIR.is_dir():
        print(f"perfbench: no data_quality_spark package or sf0.01 tables under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(BENCH_DIR)]
    # Python workers import the program and the long-page generator
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(BENCH_DIR), *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    try:
        result = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
