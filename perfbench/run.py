#!/usr/bin/env python3
"""The engine's benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload batch|append \
        --seed N --seconds S --trace 0|1

Run from the repository root.  With ``--trace 0`` the last line carries the
end-to-end metrics; with ``--trace 1`` it carries the per-layer metrics of
a traced pass, and the tracing overhead measured against untraced passes
before and after it in the same run.  The full record of a run (host, set-up samples, per-op
samples, per-layer tables, Spark stage metrics) is written to
``.perfbench_work/results/`` and its path printed on the line before.
See perfbench/README.md for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SETUP_REPS = 3
CROSS_CHECK_DOCS = 1000
# what cached expected answers depend on: inputs, queries and the oracle
ORACLE_SOURCES = ("corpus.py", "oracle.py", "workloads.py")

# Gated end-to-end metrics.  The record also keeps op_p90_ms, op_p99_ms and
# throughput_per_s: with a few operations per run the tail is the slowest
# of them, and moves with the host's CPU steal by more than any bound allows
# (see README.md), so they inform but do not gate.
END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "cpu_ms_per_item": "ms",
    "peak_rss_mb": "MB",
    "index_bytes_per_input_byte": "B/B",
}
PER_LAYER = {
    # build, from the append workload's segment builds
    "build.docs_s": "s", "postings.stats_hot_scan_s": "s",
    "postings.build_posting_partitions_s": "s", "postings.write_dictionary_s": "s",
    "build.python_cpu_s": "s", "build.jvm_cpu_s": "s", "build.core_util": "ratio",
    "build.task_s": "s", "build.shuffle_write_bytes": "B", "build.shuffle_records": "count",
    "build.spill_bytes": "B", "postings.hot_terms": "count", "postings.partition_skew": "ratio",
    "index.docs_bytes": "B", "index.postings_bytes": "B", "index.dictionary_bytes": "B",
    # driver-local search, per query of append's reads
    "search.lookup_ms": "ms", "search.fetch_postings_ms": "ms",
    "search.postings_cache_hit_ratio": "ratio", "codec.decode_ms": "ms",
    "codec.blocks_decoded": "count", "wand.blocks_decoded_ratio": "ratio",
    "wand.score_ms": "ms", "search.and_score_ms": "ms", "search.or_score_ms": "ms",
    "search.fetch_docs_ms": "ms", "search.index_open_ms": "ms",
    # batch (per run_queries call)
    "batch_query.decode_s": "s", "batch_query.decoded_rows": "count",
    "batch.or_s": "s", "batch.and_s": "s",
    "batch.python_cpu_s": "s", "batch.jvm_cpu_s": "s", "batch.task_s": "s",
    "batch.shuffle_write_bytes": "B", "batch.shuffle_records": "count", "batch.spill_bytes": "B",
    # append
    "incremental.segment_build_s": "s", "merge.merge_s": "s",
    "merge.bytes_written_per_input_byte": "B/B", "delete.delete_docs_ms": "ms",
    "search.reload_tombstones_ms": "ms", "delete.visible_ms": "ms",
    # every workload
    "trace.overhead_frac": "ratio", "ops_failed_frac": "ratio",
}


class Session:
    """The benchmark's own Spark session: host-sized, quiet, and writing only
    under the run directory."""

    def __init__(self, run_dir: str, nproc: int, trace: bool):
        self.run_dir, self.nproc, self.trace = run_dir, nproc, trace
        self.spark = None
        for sub in ("spark-local", "tmp", "warehouse", "eventlog"):
            os.makedirs(os.path.join(run_dir, sub), exist_ok=True)

    def start(self):
        from pyspark.sql import SparkSession

        d = self.run_dir
        b = (SparkSession.builder.master(f"local[{self.nproc}]")
             .config("spark.sql.shuffle.partitions", str(2 * self.nproc))
             .config("spark.driver.memory", "2g")
             .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={d}/tmp")
             .config("spark.local.dir", f"{d}/spark-local")
             .config("spark.sql.warehouse.dir", f"{d}/warehouse")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false"))
        if self.trace:
            b = (b.config("spark.eventLog.enabled", "true")
                 .config("spark.eventLog.dir", f"file://{d}/eventlog")
                 .config("spark.eventLog.compress", "false")
                 .config("spark.eventLog.rolling.enabled", "false"))
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def spin_workers(self) -> None:
        """One Arrow job on every core: starts the Python worker daemon and
        its workers, as the engine's first UDF stage would."""
        def ident(batches):
            yield from batches

        self.spark.range(0, 64 * self.nproc, numPartitions=self.nproc) \
            .mapInArrow(ident, "id long").count()

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop Spark and the JVM it launched, and wait for every child."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                with contextlib.suppress(OSError):
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
                    proc.kill()
                    proc.wait(timeout=30)
        from perfbench import host

        for pid in host.descendants():
            with contextlib.suppress(OSError):
                os.kill(pid, 9)
        deadline = time.time() + 30
        while host.descendants() and time.time() < deadline:
            with contextlib.suppress(ChildProcessError):
                os.waitpid(-1, os.WNOHANG)
            time.sleep(0.1)


def _source_key(bench_files: tuple[str, ...], engine: bool, extra: str = "") -> str:
    """crc32 of some benchmark sources, optionally the engine package, and
    ``extra``: the key of something cached across runs."""
    import zlib

    files = [os.path.join(HERE, f) for f in bench_files]
    if engine:
        for dp, _, fs in os.walk(os.path.join(ROOT, "localsearchengine_spark")):
            files += [os.path.join(dp, f) for f in fs if f.endswith(".py")]
    crc = zlib.crc32(extra.encode())
    for path in sorted(files):
        with open(path, "rb") as f:
            crc = zlib.crc32(os.path.relpath(path, ROOT).encode() + f.read(), crc)
    return f"{crc:08x}"


class Run:
    """One benchmark run: session, seed, scratch directory, answer checks
    and (when traced) the tracer."""

    def __init__(self, workload: str, seed: int, scale: str, trace: bool, plant: bool):
        from perfbench import host

        self.workload_name, self.seed, self.scale, self.trace = workload, seed, scale, trace
        self.run_dir = os.path.join(WORK, f"run-{workload}-{seed}-{os.getpid()}")
        self.cache_dir = os.path.join(WORK, "cache")
        os.makedirs(self.run_dir, exist_ok=True)
        os.makedirs(self.cache_dir, exist_ok=True)
        self.host = {"nproc": host.nproc(), "mem_total_mb": round(host.mem_total_mb(), 1),
                     "driver_memory": "2g", "load1_start": host.load1()}
        self.host["master"] = f"local[{self.host['nproc']}]"
        self._tree_cpu = host.load_tree_cpu(ROOT)
        self._jvm = None
        self.session = Session(self.run_dir, self.host["nproc"], trace)
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self._plant = plant

    # ---- resources ------------------------------------------------------
    @property
    def spark(self):
        return self.session.spark

    def tree_cpu(self) -> float:
        return self._tree_cpu()

    def jvm_cpu(self) -> float:
        from perfbench import host

        if self._jvm is None:
            self._jvm = host.jvm_pid()
        return host.proc_cpu_s(self._jvm)

    def op_span(self, name: str, request: int):
        return self.tracer.op(name, request) if self.tracer else contextlib.nullcontext()

    # ---- checks ---------------------------------------------------------
    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)

    def fail(self, what: str) -> None:
        self.check(False, what)

    def _planted(self, answer):
        """With a planted defect, the first non-empty answer checked comes
        back with one score perturbed, so the check must catch it."""
        if not self._plant or not answer:
            return answer
        if isinstance(answer[0], list):  # a list of per-query rankings
            i = next((i for i, a in enumerate(answer) if a), None)
            if i is None:
                return answer
            return answer[:i] + [self._planted(answer[i])] + answer[i + 1:]
        self._plant = False
        (d, s), rest = answer[0], list(answer[1:])
        return [(d, s * (1.0 + 1e-6))] + rest

    def check_ranking(self, expected, got, what: str) -> None:
        from perfbench.oracle import same_ranking

        self.check(same_ranking(expected, self._planted(got)), what)

    def check_identical(self, expected, got, what: str) -> None:
        self.check(self._planted(got) == expected, what)

    def check_ids(self, expected, got, what: str) -> None:
        self.check(sorted(expected) == sorted(got), what)

    def ensure_session(self):
        if self.spark is None:
            self.session.start()
        return self.spark

    def cached_index(self, name: str, fingerprint: str, build) -> str:
        """An index kept across runs in this checkout, keyed by the engine's
        source, the input generator's and ``fingerprint`` (sizes and build
        config), so no run reads an index that other code or settings
        built.  ``build(out_dir)`` makes it on a miss."""
        key = _source_key(("corpus.py",), True, fingerprint)
        path = os.path.join(self.cache_dir, f"index-{name}-{key}")
        if not os.path.exists(os.path.join(path, "meta.json")):
            self.ensure_session()
            tmp = f"{path}.tmp-{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            build(tmp)
            try:
                os.rename(tmp, path)
            except OSError:  # another run finished the same index first
                shutil.rmtree(tmp, ignore_errors=True)
        return path

    def expected(self, label, files, term_sets, deleted=()):
        """Oracle top-k for ``term_sets``.  With a ``label`` the answers are
        cached per workload, scale and seed (and the oracle's source), and a
        fresh oracle is first cross-checked against the test oracle."""
        from perfbench import oracle as O

        keys = ["\t".join(sorted(set(t))) for t in term_sets]
        cache, path = {}, None
        if label is not None:
            path = os.path.join(self.cache_dir, f"oracle-{self.workload_name}-{label}-"
                                                f"{self.scale}-{self.seed}-"
                                                f"{_source_key(ORACLE_SOURCES, False)}.json")
            if os.path.exists(path):
                with open(path) as f:
                    cache = json.load(f)
        missing = sorted({k for k in keys if k not in cache})
        if missing:
            if label is not None and not cache:
                # the two oracles must agree on a corpus prefix first
                sub = O.Oracle(files[:1], limit=CROSS_CHECK_DOCS)
                try:
                    for err in O.cross_check(sub, ROOT, [k.split("\t") for k in missing[:3]]):
                        self.fail(err)
                finally:
                    sub.close()
            orc = O.Oracle(files, deleted)
            try:
                for k, res in zip(missing, orc.topk([k.split("\t") for k in missing])):
                    cache[k] = res
            finally:
                orc.close()
            if path is not None:
                tmp = f"{path}.tmp-{os.getpid()}"
                with open(tmp, "w") as f:
                    json.dump(cache, f)
                os.replace(tmp, path)
        return [{m: [tuple(x) for x in cache[k][m]] for m in ("or", "and")} for k in keys]

    # ---- the run --------------------------------------------------------
    def setup_once(self, workload) -> float:
        """Program set-up: Spark session start, Python worker spin-up,
        ``Index`` open and a first answer."""
        from localsearchengine_spark.operators.search import Index

        from perfbench.workloads import PROBE_QUERY

        self.session.stop()
        t0 = time.perf_counter()
        self.session.start()
        self.session.spin_workers()
        idx = Index(self.spark, workload.setup_index)
        idx.search(PROBE_QUERY[0], k=10, mode=PROBE_QUERY[1])
        return time.perf_counter() - t0

    def execute(self, seconds: float) -> dict:
        from perfbench import host
        from perfbench.workloads import WORKLOADS

        w = WORKLOADS[self.workload_name](self)
        t0 = time.perf_counter()
        w.prepare()
        prepare_s = time.perf_counter() - t0
        # the first sample launches the JVM unless preparing needed Spark;
        # the median is over warm restarts either way
        setups = [self.setup_once(w) for _ in range(SETUP_REPS)]
        t0 = time.perf_counter()
        w.warm_up()
        warm_s = time.perf_counter() - t0
        record = {"workload": w.name, "seed": self.seed, "scale": self.scale,
                  "trace": int(self.trace), "host": self.host, "prepare_s": prepare_s,
                  "setup_samples_s": setups, "warm_up_s": warm_s}
        if not self.trace:
            host.reset_peak_rss()
            steal0 = host.cpu_ticks()
            res = w.measure(seconds, "untraced")
            steal1 = host.cpu_ticks()
            metrics = dict(res["e2e"])
            metrics["setup_s"] = statistics.median(setups)
            metrics["peak_rss_mb"] = host.tree_peak_rss_mb()
            record["samples"] = _samples(res)
            record["host"]["steal_frac"] = ((steal1[0] - steal0[0])
                                            / max(steal1[1] - steal0[1], 1))
        else:
            metrics, record["layers"] = self._traced(w, seconds)
        record["host"]["load1_end"] = host.load1()
        record["tree_cpu_s"] = self.tree_cpu()
        return {"metrics": metrics, "record": record}

    def _traced(self, w, seconds: float):
        """Untraced, traced, untraced thirds: per-layer metrics from the
        traced one, and the overhead against the mean of the other two, so
        drift across the run (a JIT still warming) does not read as
        overhead."""
        from perfbench import trace as T
        from perfbench.layers import install

        before = w.measure(seconds / 3, "untraced", 0.5)
        tr = self.tracer = T.Tracer(os.path.join(self.run_dir, "eventlog"), self.spark.sparkContext)
        install(tr, self)
        try:
            traced = w.measure(seconds / 3, "traced", 0.5)
            metrics = w.layer_metrics(traced, tr)
        finally:
            tr.uninstall()
            self.tracer = None
        after = w.measure(seconds / 3, "untraced-after", 0.5)
        base = (before["e2e"]["op_p50_ms"] + after["e2e"]["op_p50_ms"]) / 2
        metrics["trace.overhead_frac"] = traced["e2e"]["op_p50_ms"] / base - 1.0 if base else 0.0
        st = tr.self_times()
        opens = st.get("search.Index", {})
        metrics["search.index_open_ms"] = (opens.get("total_s", 0.0) * 1e3 / opens["calls"]
                                           if opens.get("calls") else 0.0)
        layers = {"self_times": st, "counters": dict(tr.counters),
                  "stages_by_group": T.by_group(tr.stages()),
                  "untraced_e2e": [before["e2e"], after["e2e"]], "traced_e2e": traced["e2e"]}
        tr.write_spans(os.path.join(WORK, "results", self._stem() + ".spans.jsonl"))
        return metrics, layers

    def _stem(self) -> str:
        return f"{self.workload_name}-seed{self.seed}-trace{int(self.trace)}"


def _samples(res: dict) -> dict:
    return {"ops": [{k: v for k, v in o.items() if k != "report"} for o in res["ops"]]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["batch", "append"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="input sizes; 'tiny' is for the benchmark's own tests")
    ap.add_argument("--plant-defect", action="store_true",
                    help="perturb one checked answer, to prove the checks are live")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "localsearchengine_spark", "__init__.py")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    run = Run(args.workload, args.seed, args.scale, bool(args.trace), args.plant_defect)
    os.environ["TMPDIR"] = os.path.join(run.run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run.run_dir, "spark-local")
    try:
        out = run.execute(args.seconds)
    except Exception:  # noqa: BLE001 — a run that cannot finish prints no result
        traceback.print_exc()
        return 1
    finally:
        run.session.shutdown()
        shutil.rmtree(run.run_dir, ignore_errors=True)

    metrics = out["metrics"]
    metrics["ops_failed_frac"] = run.failed / max(run.attempted, 1)
    names = PER_LAYER if args.trace else END_TO_END
    record = out["record"]
    record.update({"attempted": run.attempted, "failed": run.failed, "failures": run.failures,
                   "metrics": metrics})
    path = os.path.join(WORK, "results", run._stem() + ".json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=float)
    print(json.dumps({"artifact": os.path.relpath(path, ROOT), "host": record["host"],
                      "failures": run.failures[:5]}))
    print(json.dumps({
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": max(run.attempted, 1),
        "failed": run.failed,
        "metrics": {n: {"value": float(metrics.get(n, 0.0)), "unit": u} for n, u in names.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
