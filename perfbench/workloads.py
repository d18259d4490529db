"""The two workloads.  Each prepares its inputs and expected answers
untimed, warms up, then ``measure(seconds)`` runs its operations in a closed
loop with one client, and ``layer_metrics`` turns a traced pass into
per-layer numbers.

Every operation's answer is checked: against the DuckDB oracle, against the
driver-local ``Index.search`` (the batch path's determinism contract), or
against facts the generator planted (append's batch-only words).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
import zlib

import numpy as np

from perfbench import corpus as C

SCALES = {
    # turns per corpus
    "full": {"base_turns": 20_000, "append_batches": 6, "append_turns": 2_000},
    "tiny": {"base_turns": 1_200, "append_batches": 3, "append_turns": 200},
}
# The base corpus that batch and append query is the same for every seed
# (the seed varies their queries and batches), so its index is built once
# per checkout and reused; see Run.cached_index.
BASE_SEED = 0
# A measurement runs for at least its seconds and at least ``min_ops``
# operations (a workload attribute), so every run has a median and measures
# the same operations whether the host is fast or slow; the three passes of
# a traced run take half of it each.
# Untimed operations before the measurement.  The JVM's JIT is still
# compiling through the first few operations after the cold one, and its
# compiler threads count as process-tree CPU: on a 4-core host batch's CPU
# per call falls from about 13 s to a steady 9-10 s over four calls, and
# append's per batch from 21 s to 14 s over two.
WARM_PAIRS = 2
WARM_BATCHES = 2
PROBE_QUERY = (["join", "spark"], "and")


def _dir_bytes(path: str) -> int:
    total = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(dp, f))
    return total


def index_bytes(index_dir: str) -> dict[str, int]:
    return {sub: _dir_bytes(os.path.join(index_dir, sub))
            for sub in ("docs", "postings", "dictionary")}


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def build_config(n_turns: int):
    from localsearchengine_spark.config import BuildConfig

    # bench.py's ratio: hot_df_threshold = turns / 12, 16 salts; a fixed
    # partition count so the job is the same on every host
    return BuildConfig(num_partitions=8, hot_df_threshold=max(100, n_turns // 12), num_salts=16)


def base_index(ctx):
    """→ ((frame, parquet path), index dir) of the base corpus.  The index
    is built on the first run in a checkout and reused after that."""
    from localsearchengine_spark.build import build_index

    n = SCALES[ctx.scale]["base_turns"]
    pdf = C.make_corpus(np.random.default_rng([BASE_SEED, zlib.crc32(b"base")]), n)
    src = os.path.join(ctx.run_dir, "base.parquet")
    C.write_corpus(pdf, src)
    conf = build_config(n)
    index_dir = ctx.cached_index(f"base-{ctx.scale}", f"{n} {conf}",
                                 lambda out: build_index(ctx.spark, src, out, conf))
    return (pdf, src), index_dir


def check_docstore(ctx, index_dir: str, pdf, base: int, rng, sample: int = 200) -> None:
    """The per-turn invariant: the doc store holds every source turn's text
    under its doc id; checked on a seeded sample of ``pdf``'s turns, which
    carry doc ids ``base`` onwards."""
    import pyarrow.dataset as ds

    rows = rng.choice(len(pdf), size=min(sample, len(pdf)), replace=False)
    ids = [int(base + r) for r in rows]
    got = ds.dataset(os.path.join(index_dir, "docs")).to_table(
        columns=["doc_id", "text"], filter=ds.field("doc_id").isin(ids))
    by_id = dict(zip(got["doc_id"].to_pylist(), got["text"].to_pylist()))
    texts = pdf["text"].to_numpy()
    ctx.check(all(by_id.get(i) == texts[r] for i, r in zip(ids, rows)),
              f"doc store of {os.path.basename(index_dir)} differs from the source text")


def search_layers(tr, n_queries: int) -> dict:
    """Driver-local search layers of a traced pass, per query."""
    n = max(n_queries, 1)
    st = tr.self_times()
    ms = lambda name: st.get(name, {}).get("self_s", 0.0) * 1e3 / n  # noqa: E731
    c = tr.counters
    return {
        "search.lookup_ms": ms("search.lookup"),
        "search.fetch_postings_ms": ms("search.fetch_postings"),
        "search.postings_cache_hit_ratio":
            c["search.cache_hits"] / c["search.terms_requested"]
            if c["search.terms_requested"] else 0.0,
        "codec.decode_ms": ms("codec.decode_all") + ms("codec.decode_block"),
        "codec.blocks_decoded": c["codec.blocks_decoded"] / n,
        "wand.blocks_decoded_ratio":
            c["wand.blocks_decoded"] / c["wand.blocks_touched"]
            if c["wand.blocks_touched"] else 0.0,
        "wand.score_ms": ms("wand.wand_topk"),
        "search.and_score_ms": ms("search.and_topk"),
        "search.or_score_ms": ms("search.or_topk"),
        "search.fetch_docs_ms": ms("search.fetch_docs"),
    }


class Workload:
    """Shared plumbing; ``ctx`` is the run (session, seed, dirs, checks)."""

    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.scale = SCALES[ctx.scale]

    def rng(self, label: str) -> np.random.Generator:
        return np.random.default_rng([self.ctx.seed, zlib.crc32(label.encode())])

    def write(self, pdf, name: str) -> str:
        path = os.path.join(self.ctx.run_dir, name)
        C.write_corpus(pdf, path)
        return path

    def prepare_base(self):
        """The base index (built untimed, or reused) and its checks."""
        self.n = self.scale["base_turns"]
        (self.pdf, self.src), self.base = base_index(self.ctx)
        self.setup_index = self.base
        self.index_ratio = sum(index_bytes(self.base).values()) / os.path.getsize(self.src)
        with open(os.path.join(self.base, "meta.json")) as f:
            n_docs = int(json.load(f)["n_docs"])
        self.ctx.check(n_docs == self.n, f"base index n_docs {n_docs} != {self.n} turns")
        check_docstore(self.ctx, self.base, self.pdf, 0, self.rng("docstore"))

    def warm_up(self) -> None:
        """Untimed work after set-up, so the timed operations start with a
        warm JIT and Python workers that have imported the engine."""

    def timed_op(self, name: str, request: int, fn):
        """Run one operation; → (seconds, tree-CPU seconds, JVM CPU seconds,
        result or None when it raised)."""
        ctx = self.ctx
        c0, j0 = ctx.tree_cpu(), ctx.jvm_cpu()
        t0 = time.perf_counter()
        try:
            with ctx.op_span(name, request):
                out = fn()
        except Exception as e:  # an operation that raises counts as failed
            ctx.fail(f"{name} #{request} raised {type(e).__name__}: {e}")
            out = None
        dt = time.perf_counter() - t0
        return dt, ctx.tree_cpu() - c0, ctx.jvm_cpu() - j0, out

    def end_to_end(self, lat_s: list[float], items_per_op: float, cpu_s: list[float],
                   index_ratio: float) -> dict:
        med = median(lat_s)
        return {
            "op_p50_ms": med * 1e3,
            "op_p90_ms": float(np.percentile(lat_s, 90)) * 1e3 if lat_s else 0.0,
            "op_p99_ms": float(np.percentile(lat_s, 99)) * 1e3 if lat_s else 0.0,
            "throughput_per_s": items_per_op / med if med else 0.0,
            "cpu_ms_per_item": median(cpu_s) / items_per_op * 1e3,
            "index_bytes_per_input_byte": index_ratio,
        }


class BatchWorkload(Workload):
    """Distributed ``run_queries`` over the 50-query golden set, OR then AND."""

    name = "batch"
    min_ops = 4  # two OR/AND pairs

    def prepare(self):
        from localsearchengine_spark.operators.search import Index

        ctx = self.ctx
        self.prepare_base()
        self.golden = C.golden_set(self.rng("golden"), self.n)
        idx = Index(ctx.spark, self.base)
        # the determinism contract: the distributed path must equal the
        # driver-local one bit for bit; that one is checked against the oracle
        self.expected = {m: [idx.search(q["terms"], k=q["k"], mode=m) for q in self.golden]
                         for m in ("or", "and")}
        oracle = ctx.expected("golden", [(self.src, 0)], [q["terms"] for q in self.golden])
        for m, answers in self.expected.items():
            for q, exp, got in zip(self.golden, oracle, answers):
                ctx.check_ranking(exp[m], got, f"Index.search {q['terms']} {m}")

    def warm_up(self) -> None:
        # the AND plan runs every stage of the OR plan plus the rare-term
        # candidate join, so the cold call is an AND; then the measured
        # alternation, until the JIT settles
        for mode in ("and",) + ("or", "and") * WARM_PAIRS:
            self.ctx.check_identical(self.expected[mode], self._collect(mode),
                                     f"warm-up run_queries {mode} differs from Index.search")

    def _collect(self, mode: str) -> list[list[tuple[int, float]]]:
        from localsearchengine_spark.operators.batch_query import run_queries
        from localsearchengine_spark.operators.search import Index

        rows = run_queries(self.ctx.spark, Index(self.ctx.spark, self.base), self.golden,
                           mode=mode).collect()
        per_q: dict[int, list] = {q["query_id"]: [] for q in self.golden}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            per_q[int(r["query_id"])].append((int(r["doc_id"]), float(r["score"])))
        return [per_q[q["query_id"]] for q in self.golden]

    def measure(self, seconds: float, tag: str, share: float = 1.0) -> dict:
        ctx = self.ctx
        ops, i = [], 0
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end or i < self.min_ops * share:
            for mode in ("or", "and"):
                dt, cpu, jcpu, out = self.timed_op(
                    f"batch.{mode}", i, lambda mode=mode: self._collect(mode))
                ops.append({"mode": mode, "wall_s": dt, "cpu_s": cpu, "jvm_cpu_s": jcpu})
                if out is not None:
                    ctx.check_identical(self.expected[mode], out,
                                        f"run_queries {mode} #{i} differs from Index.search")
                i += 1
        lat = [o["wall_s"] for o in ops]
        e2e = self.end_to_end(lat, len(self.golden), [o["cpu_s"] for o in ops],
                              self.index_ratio)
        return {"e2e": e2e, "ops": ops}

    def layer_metrics(self, res: dict, tr) -> dict:
        from localsearchengine_spark.operators.batch_query import decode_postings_df

        ctx = self.ctx
        ops = res["ops"]
        terms = sorted({t for q in self.golden for t in q["terms"]})
        with ctx.op_span("batch_query.decode_probe", -1):
            t0 = time.perf_counter()
            rows = decode_postings_df(ctx.spark, self.base, terms).count()
            decode_s = time.perf_counter() - t0
        stages = tr.stage_totals("batch.or", "batch.and")
        n_ops = max(len(ops), 1)
        return {
            "batch_query.decode_s": decode_s,
            "batch_query.decoded_rows": float(rows),
            "batch.or_s": median([o["wall_s"] for o in ops if o["mode"] == "or"]),
            "batch.and_s": median([o["wall_s"] for o in ops if o["mode"] == "and"]),
            "batch.python_cpu_s": median([o["cpu_s"] - o["jvm_cpu_s"] for o in ops]),
            "batch.jvm_cpu_s": median([o["jvm_cpu_s"] for o in ops]),
            "batch.task_s": stages["task_s"] / n_ops,
            "batch.shuffle_write_bytes": stages["shuffle_write_bytes"] / n_ops,
            "batch.shuffle_records": stages["shuffle_records"] / n_ops,
            "batch.spill_bytes": stages["spill_bytes"] / n_ops,
        }


class AppendWorkload(Workload):
    """Micro-batches through ``IncrementalIndexer.process_batch`` beside
    reads, then deletes and tombstone reloads.  Its reads are also where
    the driver-local search layers (lookup, postings fetch and cache, codec
    decode, WAND/AND/OR scoring, doc-store fetch) are traced."""

    name = "append"
    min_ops = 2
    DELETES_PER_BATCH = 2

    def prepare(self):
        self.prepare_base()
        s = self.scale
        self.batches = []
        offset = self.n
        for b in range(s["append_batches"]):
            word = f"fresh{b:02d}w"
            pdf = C.make_corpus(self.rng(f"batch{b}"), s["append_turns"], conv_prefix=f"a{b:02d}c",
                                extra_terms={word: 3})
            path = self.write(pdf, f"batch-{b}.parquet")
            has = np.flatnonzero(pdf["text"].str.contains(rf"\b{word}\b").to_numpy())
            self.batches.append({"path": path, "word": word, "base": offset, "frame": pdf,
                                 "docs": sorted(int(offset + d) for d in has),
                                 "bytes": os.path.getsize(path)})
            offset += len(pdf)
        self.golden = C.golden_set(self.rng("golden"), self.n)
        self.warm_srcs = [self.write(C.make_corpus(self.rng(f"warm{w}"), s["append_turns"],
                                                   conv_prefix=f"w{w:02d}c"), f"warm-{w}.parquet")
                          for w in range(WARM_BATCHES)]

    def indexer(self, live: str, tag: str):
        from localsearchengine_spark.streaming.incremental import IncrementalIndexer

        shutil.copytree(self.base, live)
        return IncrementalIndexer(self.ctx.spark, live, os.path.join(self.ctx.run_dir, f"inc-{tag}"),
                                  build_config(self.n))

    def text_of(self, doc_id: int) -> str:
        """Source text of a base or batch turn, by doc id."""
        if doc_id < self.n:
            return self.pdf["text"].iat[doc_id]
        batch = next(b for b in reversed(self.batches) if b["base"] <= doc_id)
        return batch["frame"]["text"].iat[doc_id - batch["base"]]

    def warm_up(self) -> None:
        live = os.path.join(self.ctx.run_dir, "live-warm")
        indexer = self.indexer(live, "warm")
        for w, src in enumerate(self.warm_srcs):
            indexer.process_batch(self.ctx.spark.read.parquet(src), w + 1)
        shutil.rmtree(live, ignore_errors=True)

    def measure(self, seconds: float, tag: str, share: float = 1.0) -> dict:
        from localsearchengine_spark.operators import delete as D
        from localsearchengine_spark.operators.search import Index
        from localsearchengine_spark.sources.io import TRANSCRIPTS_SCHEMA

        ctx = self.ctx
        live = os.path.join(ctx.run_dir, f"live-{tag}")
        indexer = self.indexer(live, tag)
        ops, deleted, applied = [], [], 0
        t_end = time.perf_counter() + seconds
        for b, batch in enumerate(self.batches):
            if time.perf_counter() >= t_end and b >= self.min_ops * share:
                break
            df = ctx.spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(batch["path"])

            def append(df=df, b=b, batch=batch):
                indexer.process_batch(df, b + 1)
                return Index(ctx.spark, live).search_docs([batch["word"]], k=10, mode="or")

            dt, cpu, jcpu, hits = self.timed_op("append", b, append)
            applied = b + 1
            op = {"wall_s": dt, "cpu_s": cpu, "jvm_cpu_s": jcpu, "bytes_in": batch["bytes"],
                  "index_bytes": _dir_bytes(live)}
            ops.append(op)
            if hits is None:
                continue
            ctx.check_ids(batch["docs"], [d for d, _, _ in hits], f"batch {b} word not visible")
            ctx.check(all(row["text"] == self.text_of(d) for d, _, row in hits),
                      f"batch {b}: search_docs text differs from the source")
            with open(os.path.join(live, "meta.json")) as f:
                n_docs = int(json.load(f)["n_docs"])
            ctx.check(n_docs == batch["base"] + len(batch["frame"]),
                      f"after batch {b}: n_docs {n_docs} != turns appended so far")
            check_docstore(ctx, live, batch["frame"], batch["base"], self.rng(f"docstore{b}"))
            victims = sorted(d for d, _, _ in hits)[: self.DELETES_PER_BATCH]

            def delete(victims=victims, batch=batch):
                D.delete_docs(live, victims)
                idx = Index(ctx.spark, live)
                idx.reload_tombstones()
                return idx.search([batch["word"]], k=10, mode="or")

            ddt, _, _, after = self.timed_op("delete", b, delete)
            op["delete_s"] = ddt
            deleted += victims
            if after is not None:
                ctx.check_ids([d for d in batch["docs"] if d not in victims],
                              [d for d, _ in after], f"batch {b} deleted ids still returned")
        queries = 2 * len(ops) + self.check_golden(live, applied, deleted)
        sizes = index_bytes(live)
        shutil.rmtree(live, ignore_errors=True)
        input_bytes = os.path.getsize(self.src) + sum(b["bytes"] for b in self.batches[:applied])
        e2e = self.end_to_end([o["wall_s"] for o in ops], self.scale["append_turns"],
                              [o["cpu_s"] for o in ops], sum(sizes.values()) / input_bytes)
        return {"e2e": e2e, "ops": ops, "sizes": sizes, "queries": queries}

    def check_golden(self, live: str, applied: int, deleted: list[int]) -> int:
        """The golden set over base + applied batches, in every mode; deleted
        ids leave the results but not the statistics.  AND answers go
        through ``search_docs``, and their rows must hold the source text;
        WAND must equal the OR top-k.  → queries run."""
        from localsearchengine_spark.operators.search import Index

        ctx = self.ctx
        files = [(self.src, 0)] + [(b["path"], b["base"]) for b in self.batches[:applied]]
        expected = ctx.expected(None, files, [q["terms"] for q in self.golden], deleted=deleted)
        idx = Index(ctx.spark, live)
        for q, exp in zip(self.golden, expected):
            what = f"after {applied} appends: {q['terms']}"
            for mode in ("or", "wand"):
                ctx.check_ranking(exp["or"], idx.search(q["terms"], k=10, mode=mode),
                                  f"{what} {mode}")
            rows = idx.search_docs(q["terms"], k=10, mode="and")
            ctx.check(all(row["text"] == self.text_of(d) for d, _, row in rows),
                      f"{what} and: search_docs text differs from the source")
            ctx.check_ranking(exp["and"], [(d, s) for d, s, _ in rows], f"{what} and")
        return 3 * len(self.golden)

    def layer_metrics(self, res: dict, tr) -> dict:
        ops = res["ops"]
        st = tr.self_times()
        calls = lambda name: max(st.get(name, {}).get("calls", 0), 1)  # noqa: E731
        mean = lambda name: st.get(name, {}).get("total_s", 0.0) / calls(name)  # noqa: E731
        return {
            **self.build_layers(res, tr),
            **search_layers(tr, res["queries"]),
            "incremental.segment_build_s": mean("incremental.build_index"),
            "merge.merge_s": mean("merge.merge_indexes"),
            "merge.bytes_written_per_input_byte":
                median([o["index_bytes"] / o["bytes_in"] for o in ops]),
            "delete.delete_docs_ms": mean("delete.delete_docs") * 1e3,
            "search.reload_tombstones_ms": mean("search.reload_tombstones") * 1e3,
            "delete.visible_ms": median([o["delete_s"] for o in ops if "delete_s" in o]) * 1e3,
        }


    def build_layers(self, res: dict, tr) -> dict:
        """The build layer, from the segment builds inside process_batch."""
        builds = tr.calls.get("incremental.build_index", [])
        reps = [b["out"] for b in builds]
        n = max(len(builds), 1)
        under = tr.self_times(under="incremental.build_index")
        per_build = lambda name: under.get(name, {}).get("total_s", 0.0) / n  # noqa: E731
        cpu = [b["after"][0] - b["before"][0] for b in builds]
        jvm = [b["after"][1] - b["before"][1] for b in builds]
        stages = tr.stage_totals("incremental.build_index")
        nproc = self.ctx.host["nproc"]
        skew = reps[-1].skew.get("skew_ratio_max_over_median", 0.0) if reps else 0.0
        return {
            "build.docs_s": median([r.elapsed_s.get("docs", 0.0) for r in reps]),
            "postings.stats_hot_scan_s": per_build("postings.stats_hot_scan"),
            "postings.build_posting_partitions_s": per_build("postings.build_posting_partitions"),
            "postings.write_dictionary_s": per_build("postings.write_dictionary"),
            "build.python_cpu_s": median([c - j for c, j in zip(cpu, jvm)]),
            "build.jvm_cpu_s": median(jvm),
            "build.core_util": median([c / (nproc * b["dur"]) for c, b in zip(cpu, builds)]),
            "build.task_s": stages["task_s"] / n,
            "build.shuffle_write_bytes": stages["shuffle_write_bytes"] / n,
            "build.shuffle_records": stages["shuffle_records"] / n,
            "build.spill_bytes": stages["spill_bytes"] / n,
            "postings.hot_terms": float(reps[-1].hot_terms) if reps else 0.0,
            "postings.partition_skew": float(skew),
            "index.docs_bytes": float(res["sizes"]["docs"]),
            "index.postings_bytes": float(res["sizes"]["postings"]),
            "index.dictionary_bytes": float(res["sizes"]["dictionary"]),
        }


WORKLOADS = {w.name: w for w in (BatchWorkload, AppendWorkload)}
