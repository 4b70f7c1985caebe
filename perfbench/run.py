"""kg_microbe_spark benchmark: the pages -> KGX pipeline and the query registry.

Usage (from the repository root):

    python3 perfbench/run.py --workload pipeline --seed 0 --seconds 5 --trace 0

Workloads (see README.md):

- ``pipeline``: ``plans.pipeline.run_pipeline`` on a 2,000-page corpus
  (page ids ``[k*2000, (k+1)*2000)``, ``k = seed mod 10,000``): a cold
  call, warm in-memory calls, a run through
  ``plans.checkpoint.CheckpointManager`` and a resume after the late stages
  are deleted.
- ``queries``: nine ``__spark_entry__.queries()`` entries over the
  registry's sf0.01 test tables (the traced run times all 23 entries the
  benchmark names).

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs every
layer of both workloads with the Spark event log on and prints the
per-layer metrics. The last stdout line is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before it
carries the workload's named figures and the host conditions.

Everything the run writes goes to ``.perfbench_work/`` under the
repository root, and is deleted at exit. Spark runs at ``local[4]``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

CORES = 4
DIM_KEY = "perfbench-lexicon"
BENCH_QUERIES = [
    "kg_triples", "pricing_summary", "shipping_priority", "region_revenue",
    "broadcast_brand_counts", "dedup_most_complete", "histogram_cutoff",
    "minhash_signature", "ann_cosine_topk", "ann_lsh_topk", "lang_id",
    "quality_score", "two_hop_composition", "transitive_closure",
    "binned_traits", "simhash_buckets",
]
HUB_JOIN = "ngram_jaccard_docs"
TEXT_QUERIES = [
    "tfidf_top_terms", "pmi_collocations", "unigram_logprob",
    "doc_repetition", "boilerplate_lines", "fingerprint",
]
ALL_QUERIES = BENCH_QUERIES + [HUB_JOIN] + TEXT_QUERIES
COUNT_QUERIES = BENCH_QUERIES + [HUB_JOIN]
# The untraced queries workload runs each entry in three passes (cold,
# signature, warm), and all 23 would take a run past two minutes. It
# keeps the per-row-compute entries and three bench entries whose join and
# aggregation plans stand for the rest. The hub join alone (about 5 s warm,
# 8 s cold at sf0.01) would add a third to the run. The traced run still
# times all 23.
WORKLOAD_BENCH = ["kg_triples", "shipping_priority", "region_revenue"]
WORKLOAD_QUERIES = WORKLOAD_BENCH + TEXT_QUERIES


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["pipeline", "queries"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=5.0,
                    help="minimum length of the warm window; the warm call repeats until it is reached")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def prepare_environment(work: str) -> None:
    """Put the package on the driver's and the Python workers' path and keep
    every temporary file inside ``work``."""
    for name in ("kg_microbe_spark", "__spark_entry__.py"):
        if not os.path.exists(os.path.join(ROOT, name)):
            raise SystemExit(f"perfbench: {name} not found under {ROOT}; run from a full checkout")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Bind the driver to the loopback interface, so the session does not
    # depend on the host name resolving.
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    os.environ.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # -UsePerfData: the launcher and driver JVMs would otherwise write
    # /tmp/hsperfdata_<user>, outside the run's directory.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # The session's own driver options, plus the two that keep the JVM's
    # temporary files inside the run's directory; heap size is the
    # session's default.
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = (
        f"-XX:MaxDirectMemorySize=24g -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    )


def signature_frame(df):
    """One-row frame (n, s) holding the order-insensitive signature of
    ``df``: its row count and the sum of per-row hashes over every column.
    Floating values are rounded to 7 significant digits, so a change of
    summation order does not change the signature; nested values go
    through JSON."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    parts = []
    for field in sorted(df.schema.fields, key=lambda f: f.name):
        c = F.col(f"`{field.name}`")
        if isinstance(field.dataType, (T.FloatType, T.DoubleType)):
            c = F.format_string("%.6e", c)
        elif isinstance(field.dataType, (T.ArrayType, T.MapType, T.StructType)):
            c = F.to_json(c)
        elif isinstance(field.dataType, T.BinaryType):
            c = F.base64(c)
        parts.append(F.coalesce(c.cast("string"), F.lit("\u0000")))
    h = F.xxhash64(F.concat_ws("\u0001", F.lit("|".join(sorted(df.columns))), *parts))
    return df.select(h.cast("decimal(20,0)").alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("h").cast("string").alias("s")
    )


def canonical_signature(df):
    """(row count, sum of per-row hashes) of ``df``, in one job."""
    row = signature_frame(df).collect()[0]
    return int(row["n"]), str(row["s"])


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors = []
        self.info = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
        self._n_dirs = 0

    # -- bookkeeping -------------------------------------------------------
    def new_dir(self, name: str) -> str:
        self._n_dirs += 1
        return os.path.join(self.work, f"{name}-{self._n_dirs}")

    def attempt(self, what: str, fn, *a, **kw):
        """Run one operation; count it, and count it failed if it raises."""
        self.attempted += 1
        try:
            return fn(*a, **kw)
        except Exception as exc:  # noqa: BLE001 - every failure is counted, not raised
            self.failed += 1
            self.errors.append(f"{what}: {type(exc).__name__}: {str(exc).splitlines()[0][:200] if str(exc) else ''}")
            print(f"perfbench: {what} failed: {exc!r}", file=sys.stderr)
            return None

    def check(self, what: str, ok: bool):
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"mismatch: {what}")

    def check_same(self, what: str, values):
        values = [v for v in values if v is not None]
        for v in values[1:]:
            self.check(what, v == values[0])

    # -- session and inputs --------------------------------------------------
    def start_session(self, traced: bool = False):
        from kg_microbe_spark.session import get_spark

        conf = {
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if traced:
            self.event_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.event_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{CORES}]", shuffle_partitions=2 * CORES, extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def stage_pages(self):
        import inputs

        self.page_recs = inputs.page_records(self.args.seed)
        self.pages_path = self.new_dir("pages")
        inputs.stage_pages(self.pages_path, self.page_recs)
        from kg_microbe_spark.sources.synthetic import lexicon_df

        self.lexicon = lexicon_df(self.spark)

    def stage_tables(self):
        import inputs

        self.tables_path = inputs.check_tables()

    def peak_rss_mb(self) -> float:
        import tracing

        jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        return tracing.vm_hwm_mb(os.getpid()) + tracing.vm_hwm_mb(jvm_pid)

    # -- pipeline ------------------------------------------------------------
    def pipeline_call(self, checkpoint=None):
        """run_pipeline + edges and nodes to the noop sink.
        Returns (result, wall_s, plan_s)."""
        from kg_microbe_spark.plans.pipeline import run_pipeline

        pages = self.spark.read.parquet(self.pages_path)
        t0 = time.perf_counter()
        res = run_pipeline(self.spark, pages, self.lexicon, checkpoint=checkpoint, dim_cache_key=DIM_KEY)
        plan = time.perf_counter() - t0
        res.edges.write.format("noop").mode("overwrite").save()
        res.nodes.write.format("noop").mode("overwrite").save()
        return res, time.perf_counter() - t0, plan

    def triples_of(self, res, in_memory: bool):
        """The call's triples, collected after its timer stopped. In memory,
        ``run_pipeline`` persists the entities, so this recomputes only the
        pair and merge stages; the entities are released afterwards."""
        rows = [tuple(r) for r in res.triples.collect()]
        if in_memory:
            res.entities.unpersist(blocking=True)
        return rows

    def pipeline_timed(self, what, checkpoint=None, digest=True):
        """One timed pipeline call, then its triples (untimed) unless
        ``digest`` is false. Returns (wall_s, plan_s, triple rows, PipelineResult)."""
        out = self.attempt(what, self.pipeline_call, checkpoint)
        if out is None:
            return None, None, None, None
        res, wall, plan = out
        if digest:
            rows = self.attempt(f"{what} triples", self.triples_of, res, checkpoint is None)
        else:
            rows = None
            if checkpoint is None:
                res.entities.unpersist(blocking=True)
        return wall, plan, rows, res

    def ckpt_and_resume(self, manager_cls):
        """Checkpointed run into an empty directory, then a resume after
        the s6_*/s7_* outputs are deleted."""
        root = self.new_dir("ckpt")
        ck = manager_cls(self.spark, root)
        ck_wall, _, ck_rows, ck_res = self.pipeline_timed("checkpointed run", ck)
        for stage in os.listdir(root):
            if stage.startswith(("s6_", "s7_")):
                shutil.rmtree(os.path.join(root, stage))
        rk = manager_cls(self.spark, root)
        rs_wall, _, rs_rows, _ = self.pipeline_timed("resume", rk)
        return ck, rk, (ck_wall, ck_rows, ck_res), (rs_wall, rs_rows)

    def check_triples(self, digests):
        import hashlib

        sigs = [
            None if rows is None else hashlib.sha256("\n".join(sorted("\t".join(r) for r in rows)).encode()).hexdigest()
            for rows in digests
        ]
        self.check_same("triple digest across calls", sigs)
        rows = next((r for r in digests if r is not None), None)
        self.info["n_triples"] = None if rows is None else len(rows)
        import inputs

        if inputs.page_range(self.args.seed).start == 0 and rows is not None:
            from kg_microbe_spark.oracle import oracle_triples, precision_recall

            p, r = precision_recall(set(rows), oracle_triples(inputs.PAGES_PER_RUN))
            self.info["oracle_precision"], self.info["oracle_recall"] = p, r
            self.check("oracle precision/recall", p == 1.0 and r == 1.0)

    def run_pipeline_workload(self, setup_s):
        import inputs

        n = inputs.PAGES_PER_RUN
        cold, _, cold_rows, _ = self.pipeline_timed("cold run")
        warm, rows_all = [], [cold_rows]
        t_start = time.perf_counter()
        while not warm or time.perf_counter() - t_start < self.args.seconds:
            wall, _, rows, _ = self.pipeline_timed(f"warm run {len(warm)}")
            rows_all.append(rows)
            if wall is None:
                break
            warm.append(wall)
        from kg_microbe_spark.plans.checkpoint import CheckpointManager

        _, _, (ck_wall, ck_rows, _), (rs_wall, rs_rows) = self.ckpt_and_resume(CheckpointManager)
        self.check_triples(rows_all + [ck_rows, rs_rows])
        self.info["peak_rss_mb"] = self.peak_rss_mb()
        in_memory_s = statistics.median(warm) if warm else 0.0
        self.info.update(
            pages=n, page_ids=[inputs.page_range(self.args.seed).start, inputs.page_range(self.args.seed).stop],
            in_memory_all_s=[round(w, 3) for w in warm],
            pipeline_pages_per_s=n / in_memory_s if in_memory_s else 0.0,
            pipeline_cold_s=cold, ckpt_pages_per_s=n / ck_wall if ck_wall else 0.0, resume_s=rs_wall,
        )
        # warm_s spans all three warm paths: one 6 s call alone is shorter
        # than the host's steal bursts, and its run-to-run spread shows it.
        warm_s = sum(x or 0.0 for x in (in_memory_s, ck_wall, rs_wall))
        cold = cold or 0.0
        return dict(setup_s=setup_s, cold_s=cold, warm_s=warm_s, workload_s=cold + warm_s)

    # -- queries ---------------------------------------------------------------
    def query_pass(self, tag: str):
        """Every workload entry once, each timed with the noop sink.
        Returns {name: seconds}."""
        import __spark_entry__

        registry = __spark_entry__.queries()
        walls = {}
        for name in WORKLOAD_QUERIES:
            fn = registry[name]
            t0 = time.perf_counter()
            self.attempt(f"{tag} {name}", lambda: fn(self.spark, self.tables_path).write.format("noop").mode("overwrite").save())
            walls[name] = time.perf_counter() - t0
        return walls

    def check_signatures(self):
        """Untimed: each entry's signature against the one recorded for
        these tables (``expected_signatures.json``). The entries' signatures
        are one union job, so their small stages share the cores."""
        from functools import reduce

        import __spark_entry__
        from pyspark.sql import functions as F

        with open(os.path.join(HERE, "expected_signatures.json")) as f:
            expected = json.load(f)
        registry = __spark_entry__.queries()
        frames = []
        for name in WORKLOAD_QUERIES:
            df = self.attempt(f"{name} plan", lambda: registry[name](self.spark, self.tables_path))
            if df is not None:
                frames.append(signature_frame(df).select(F.lit(name).alias("name"), "n", "s"))
        rows = self.attempt("signature job", lambda: reduce(lambda a, b: a.unionByName(b), frames).collect()) if frames else None
        got = {r["name"]: [int(r["n"]), r["s"]] for r in rows or []}
        for name in WORKLOAD_QUERIES:
            self.check(f"{name} signature", got.get(name) == expected[name])

    def run_queries_workload(self, setup_s):
        cold = self.query_pass("cold pass")
        # The signature pass also warms the entries up before the timed
        # warm passes.
        self.check_signatures()
        # At least two warm passes, and each entry's fastest: one pass is
        # about 8 s, short enough that a burst of host steal can double it.
        passes = []
        t_start = time.perf_counter()
        while len(passes) < 2 or time.perf_counter() - t_start < self.args.seconds:
            passes.append(self.query_pass(f"warm pass {len(passes)}"))
        self.info["peak_rss_mb"] = self.peak_rss_mb()
        best = {n: min(p[n] for p in passes) for n in WORKLOAD_QUERIES}

        def total(names):
            return sum(best[n] for n in names)

        warm_s = total(WORKLOAD_QUERIES)
        self.info.update(
            bench_noop_s=total(WORKLOAD_BENCH), text_noop_s=total(TEXT_QUERIES),
            pass_all_s=[round(sum(p.values()), 3) for p in passes],
            query_cold_s={n: round(cold[n], 4) for n in WORKLOAD_QUERIES},
            query_warm_s={n: round(best[n], 4) for n in WORKLOAD_QUERIES},
        )
        cold_s = sum(cold.values())
        return dict(setup_s=setup_s, cold_s=cold_s, warm_s=warm_s, workload_s=cold_s + warm_s)

    # -- traced run ------------------------------------------------------------
    def run_traced(self, age_at_start):
        import inputs
        import tracing
        from kg_microbe_spark.functions.automaton import build_matcher
        from kg_microbe_spark.functions.normalize import normalize_name_py
        from kg_microbe_spark.operators.lexicon import build_name_index, build_xref_routing, enrich_synonyms
        from kg_microbe_spark.sources.synthetic import STOPWORDS, extract_text_from_html

        m = {}
        t0 = time.perf_counter()
        self.start_session(traced=True)
        m["session.start_s"] = age_at_start + time.perf_counter() - t0
        t0 = time.perf_counter()
        self.stage_pages()
        self.stage_tables()
        m["sources.generate_s"] = time.perf_counter() - t0
        spark = self.spark

        with tracing.job_description(spark, "pipeline.cold"):
            _, cold_plan, cold_rows, _ = self.pipeline_timed("cold run")
        m["pipeline.plan_cold_s"] = cold_plan or 0.0

        def dims():
            with tracing.job_description(spark, "lexicon.dims"):
                t = time.perf_counter()
                idx = build_name_index(self.lexicon, STOPWORDS).collect()
                build_xref_routing(self.lexicon).collect()
                enrich_synonyms(self.lexicon).collect()
                m["lexicon.dims_s"] = time.perf_counter() - t
            t = time.perf_counter()
            matcher = build_matcher(sorted({r["term_norm"] for r in idx}))
            m["automaton.build_s"] = time.perf_counter() - t
            return matcher

        matcher = self.attempt("dimension build", dims)
        if matcher is not None:
            t = time.perf_counter()
            texts = [extract_text_from_html(r["html"]) for r in self.page_recs]
            m["extract.html_py_s"] = time.perf_counter() - t
            t = time.perf_counter()
            norms = [normalize_name_py(x) for x in texts]
            m["normalize.py_s"] = time.perf_counter() - t
            t = time.perf_counter()
            for x in norms:
                matcher.find_mentions(x)
            m["automaton.find_s"] = time.perf_counter() - t

        def untraced_call(what):
            # Timed only, for the overhead; the traced call's triples stand
            # for this pair.
            with tracing.event_log_detached(spark):
                return self.pipeline_timed(what, digest=False)

        # Warm calls still speed up from one to the next, so the traced call
        # sits between two untraced ones and is compared with their mean.
        untraced0, _, _, _ = untraced_call("untraced warm run 0")
        busy0, idle0, steal0 = tracing.cpu_ticks()
        with tracing.job_description(spark, "pipeline.warm"):
            traced, plan, rows_t, _ = self.pipeline_timed("traced warm run")
        busy1, idle1, steal1 = tracing.cpu_ticks()
        untraced1, _, _, _ = untraced_call("untraced warm run 1")
        m["pipeline.plan_s"] = plan or 0.0
        m["pipeline.cpu_busy_frac"] = (busy1 - busy0) / max(busy1 - busy0 + idle1 - idle0 + steal1 - steal0, 1)
        m["trace.overhead_s"] = (traced or 0.0) - ((untraced0 or 0.0) + (untraced1 or 0.0)) / 2

        ck, rk, (ck_wall, ck_rows, ck_res), (rs_wall, rs_rows) = self.ckpt_and_resume(tracing.TimedCheckpointManager)
        self.check_triples([cold_rows, rows_t, ck_rows, rs_rows])
        m["checkpoint.write_s"] = ck.write_s
        m["checkpoint.lineage_s"] = ck.lineage_s
        m["checkpoint.bytes_written"] = _tree_bytes(ck.root)
        m["checkpoint.stages_reused"] = len(rk.reused)

        def read_back():
            # The resume reads these stages inside the s6/s7 jobs, pipelined
            # with their operators; read in full here, they time the parquet
            # read-back alone.
            with tracing.job_description(spark, "checkpoint.read"):
                t = time.perf_counter()
                for stage in rk.reused:
                    rk.read(stage).write.format("noop").mode("overwrite").save()
                return time.perf_counter() - t

        m["checkpoint.read_s"] = self.attempt("checkpoint read-back", read_back) or 0.0
        lineage = self.attempt("lineage read", lambda: {
            r["stage"]: r["rows"] for r in ck.lineage().filter(f"run_id = '{ck.run_id}'")
            .groupBy("stage").agg({"row_count": "sum"}).withColumnRenamed("sum(row_count)", "rows").collect()
        }) or {}
        dropped = 0
        if ck_res is not None:
            dropped = self.attempt("drop report", lambda: sum(r["n"] for r in ck_res.drop_report.collect())) or 0
        stage_s = ck.stage_s
        self.info.update(ckpt_wall_s=ck_wall, resume_s=rs_wall, stage_s={k: round(v, 3) for k, v in stage_s.items()},
                         ckpt_stage_sum_s=sum(stage_s.values()),
                         ckpt_unstaged_s=(ck_wall or 0.0) - sum(stage_s.values()))

        import __spark_entry__

        registry = __spark_entry__.queries()
        for name in ALL_QUERIES:
            fn = registry[name]
            with tracing.job_description(spark, f"query.{name}.noop"):
                t = time.perf_counter()
                self.attempt(f"{name} noop", lambda: fn(spark, self.tables_path).write.format("noop").mode("overwrite").save())
                m[f"query.{name}.noop_s"] = time.perf_counter() - t
            if name in COUNT_QUERIES:
                with tracing.job_description(spark, f"query.{name}.count"):
                    t = time.perf_counter()
                    self.attempt(f"{name} count", lambda: fn(spark, self.tables_path).count())
                    m[f"query.{name}.count_s"] = time.perf_counter() - t
        self.info.update(
            queries_count_s=sum(m[f"query.{n}.count_s"] for n in COUNT_QUERIES),
            queries_noop_s=sum(m[f"query.{n}.noop_s"] for n in BENCH_QUERIES),
            text_noop_s=sum(m[f"query.{n}.noop_s"] for n in TEXT_QUERIES),
            hub_join_noop_s=m[f"query.{HUB_JOIN}.noop_s"],
        )

        m["peak_rss_mb"] = self.peak_rss_mb()
        spark.stop()
        self.spark = None
        log = tracing.EventLogSummary(self.event_dir)
        self._stage_layers(m, log, stage_s, lineage, dropped)
        m["pipeline.gc_s"] = sum(log.get(s, "gc_ms") for s in stage_s) / 1000.0
        for name in ALL_QUERIES:
            desc = f"query.{name}.noop"
            m[f"query.{name}.task_skew"] = log.task_skew(desc)
            m[f"query.{name}.shuffle_bytes"] = log.get(desc, "shuffle_write")
        return m

    @staticmethod
    def _stage_layers(m, log, stage_s, lineage, dropped):
        import tracing

        def py(desc, prefix):
            m[f"{prefix}.python_s"] = log.get(desc, tracing.PY_RUN) / 1000.0
            m[f"{prefix}.python_bytes_sent"] = log.get(desc, tracing.PY_SENT)

        m["extract.s"] = stage_s.get("s1_extract", 0.0)
        m["extract.rows_out"] = lineage.get("s1_extract", 0)
        py("s1_extract", "extract")
        m["mentions.s"] = stage_s.get("s3_mentions", 0.0)
        m["mentions.rows_out"] = lineage.get("s3_mentions", 0)
        py("s3_mentions", "mentions")
        # Python workers are started once per session and then reused, so
        # their start time lands in the cold call, not in a later stage.
        m["mentions.python_boot_s"] = log.get("pipeline.cold", tracing.PY_BOOT) / 1000.0
        m["mentions.task_skew"] = log.task_skew("s3_mentions")
        m["linking.s"] = stage_s.get("s5_entities", 0.0)
        m["linking.rows_out"] = lineage.get("s5_entities", 0)
        m["linking.shuffle_bytes"] = log.get("s5_entities", "shuffle_write")
        kept = lineage.get("s6_edges", 0)
        m["triples.s"] = stage_s.get("s6_edges", 0.0)
        m["triples.pairs_in"] = kept + dropped
        m["triples.kept_frac"] = kept / max(kept + dropped, 1)
        m["triples.shuffle_bytes"] = log.get("s6_edges", "shuffle_write")
        m["triples.spill_bytes"] = log.get("s6_edges", "spill")
        m["triples.task_skew"] = log.task_skew("s6_edges")
        merge = ("s7_edges_merged", "s7_nodes_merged")
        m["merge.s"] = sum(stage_s.get(s, 0.0) for s in merge)
        m["merge.rows_in"] = kept
        m["merge.rows_out"] = lineage.get("s7_edges_merged", 0)
        m["merge.shuffle_bytes"] = sum(log.get(s, "shuffle_write") for s in merge)

    # -- driver ----------------------------------------------------------------
    def close(self):
        if "pyspark" not in sys.modules:
            return
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


def _tree_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(root) for f in files)


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    bench = Bench(args, work)
    try:
        prepare_environment(work)
        import tracing

        busy0, idle0, steal0 = tracing.cpu_ticks()
        load0 = tracing.load_avg()
        if args.trace:
            metrics = bench.run_traced(tracing.process_age_s())
        else:
            # setup_s: from process start to a session with the inputs staged.
            bench.start_session()
            (bench.stage_pages if args.workload == "pipeline" else bench.stage_tables)()
            setup_s = tracing.process_age_s()
            run = bench.run_pipeline_workload if args.workload == "pipeline" else bench.run_queries_workload
            metrics = run(setup_s)
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    busy1, idle1, steal1 = tracing.cpu_ticks()
    steal_pct = 100.0 * (steal1 - steal0) / max(busy1 - busy0 + idle1 - idle0 + steal1 - steal0, 1)
    if args.trace:
        metrics["host.steal_pct"] = steal_pct
    bench.info.update(steal_pct=steal_pct, loadavg_start=load0, loadavg_end=tracing.load_avg(),
                      error_rate=bench.failed / max(bench.attempted, 1), errors=bench.errors)
    print(json.dumps(bench.info, default=str))
    units = _units("per_layer" if args.trace else "end_to_end")
    if set(units) != set(metrics):
        print(f"perfbench: metrics differ from BENCHMARK.json: {sorted(set(units) ^ set(metrics))}", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def _units(section: str) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


if __name__ == "__main__":
    sys.exit(main())
