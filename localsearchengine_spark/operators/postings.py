"""A4–A9, A12 — posting emission, salted shuffle build, block compression,
segment write, per-partition metrics.

BASELINE.json:6 mandates: "per-turn posting emission", "a shuffle-partitioned
posting-list build with salted repartitioning for hot terms", "delta+varint
block compression of sorted docID postings persisted as ... segments",
"explicit skew diagnostics and per-partition build metrics".

Dataflow (SURVEY.md §3.1) — the corpus is tokenized once per build:

    docs(doc_id, text)                       N = the docs files' footer rows
      → mapInArrow term_freq_arrow           [Arrow batch, no per-row Python,
        no pandas construction — RecordBatches in and out]
      → (term, bucket, doc_ids, tfs, dls)    packed: one row per (term,
        bucket) per batch, bucket = (doc_id − base)·C // N with C =
        min(num_salts, ⌈N / hot_df_threshold⌉); persisted, because every
        step below reads it
      → stats_hot_scan: one JVM aggregate    df = Σ size(doc_ids), tokens =
        Σ tfs; collects the token total and the hot terms (df > threshold)
      → salt_hot_terms: salt = bucket·S_t // C for a hot term, else 0 (a
        JVM expression)
      → filter pmod(hash(term,salt),P) ∈ pending   [resume pruning, A11]
      → repartition(P, term, salt) → sortWithinPartitions(term, salt)
        [doc_id order is restored inside the encode task]
      → mapInArrow: per Arrow batch, find the (term, salt) group bounds,
        one lexsort by (group, doc_id), one encode_blocks call for all the
        batch's groups (codec, A8) — a group that may continue into the
        next batch is carried over to it; the task writes its own parquet
        segment (term, salt, df, cf, blocks) + manifest marker atomically
        [per-partition lineage: a killed job leaves completed partitions
        durable]

The task-side write is the lineage mechanism: shuffle partition id is the
deterministic function pmod(murmur3(term,salt), P), so a resumed build prunes
already-completed partitions *before* the exchange with a cheap filter and
reproduces the identical partition assignment.

Hot-term salting (A7): S_t = min(ceil(df_t / hot_df_threshold), num_salts)
is at most C, so salt = bucket·S_t // C maps the C buckets onto 0…S_t−1 and
is non-decreasing in doc_id: a hot term's salt rows hold disjoint doc_id
ranges in salt order and its posting list is the concatenation of its rows
in salt order (no k-way merge needed); per-task group state is bounded by
~hot_df_threshold postings (SURVEY.md §7.4-2).

Salts come from fixed doc_id buckets, not from the packed rows: Spark packs
several docs files into one split, so one Arrow batch can hold doc_ids with
gaps, and a packed row is not a contiguous doc_id range.
"""

from __future__ import annotations

import os
import time

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from localsearchengine_spark.config import BuildConfig
from localsearchengine_spark.operators import codec
from localsearchengine_spark.utils import atomic_write_json

# One emitted row per (term, doc_id bucket) PER ARROW BATCH, with the
# batch's postings packed into array columns — the map-side combine that
# keeps the build's one big shuffle at ~vocab×batches rows instead of one
# row per posting (30×+ fewer rows, no per-posting UnsafeRow overhead, and
# the JVM sort runs on the packed rows).  Postings are re-sorted by doc_id
# inside the encode task, so the final blocks are bit-identical to a
# per-posting shuffle regardless of batch boundaries or parallelism.
_POSTINGS = "doc_ids array<long>, tfs array<long>, dls array<long>"
EMIT_SCHEMA = f"term string, salt int, {_POSTINGS}"
EMIT_SCHEMA_POS = EMIT_SCHEMA + ", pos array<long>"
_BUCKETED_SCHEMA = f"term string, bucket int, {_POSTINGS}"


def salt_buckets(conf: BuildConfig, n_docs: int) -> int:
    """C, the emit's doc_id bucket count: num_salts, but no more than
    ⌈N / hot_df_threshold⌉ — no term's S_t can exceed that, and fewer
    buckets pack a small corpus's batches into fewer rows."""
    return max(1, min(conf.num_salts, -(-int(n_docs) // conf.hot_df_threshold)))


def emit_postings(
    docs: DataFrame, conf: BuildConfig, n_docs: int, doc_id_base: int = 0
) -> DataFrame:
    """A4 — fused tokenize + per-turn tf emission (one Arrow pass, no
    (doc,term) shuffle: tf is computed within the row's own batch).

    Rows are packed per (term, bucket) of each Arrow batch, with
    ``bucket = (doc_id − doc_id_base) · C // n_docs`` and C =
    :func:`salt_buckets`; the columns are ``term, bucket`` and the
    EMIT_SCHEMA posting arrays."""
    cfg = conf.bm25
    C = salt_buckets(conf, n_docs)
    n = int(n_docs)
    base = int(doc_id_base)
    with_pos = bool(conf.store_positions)

    def emit(it):
        import pyarrow as pa

        from localsearchengine_spark.functions.analyze import term_freq_arrow

        for batch in it:
            if batch.num_rows == 0:
                continue
            res = term_freq_arrow(
                batch.column(batch.schema.get_field_index("text")),
                cfg,
                with_positions=with_pos,
            )
            if res is None:
                continue
            all_ids = batch.column(
                batch.schema.get_field_index("doc_id")
            ).to_numpy(zero_copy_only=False).astype(np.int64)
            doc_ids = all_ids[res["row"]]
            # pack the batch per (term, bucket): one output row per group,
            # postings sorted by doc_id inside each group
            key = res["codes"] * C + (doc_ids - base) * C // n
            order = np.lexsort((doc_ids, key))
            ks = key[order]
            first = np.empty(len(ks), dtype=bool)
            first[0] = True
            np.not_equal(ks[1:], ks[:-1], out=first[1:])
            gstarts = np.flatnonzero(first)
            goff = np.append(gstarts, len(ks)).astype(np.int32)
            tf_ord = res["tf"][order]
            arrays = [
                res["uniq"].take(pa.array(ks[gstarts] // C)),
                pa.array((ks[gstarts] % C).astype(np.int32)),
            ]
            arrays += [
                pa.ListArray.from_arrays(pa.array(goff), pa.array(v, type=pa.int64()))
                for v in (doc_ids[order], tf_ord, res["dl"][order])
            ]
            names = ["term", "bucket", "doc_ids", "tfs", "dls"]
            if with_pos:
                flat = codec.reorder_positions(
                    res["pos_flat"], res["pos_off"][:-1].astype(np.int64),
                    res["tf"], order,
                )
                pos_cum = np.concatenate(([0], np.cumsum(tf_ord)))
                arrays.append(
                    pa.ListArray.from_arrays(
                        pa.array(pos_cum[goff].astype(np.int32)),
                        pa.array(flat, type=pa.int64()),
                    )
                )
                names.append("pos")
            yield pa.RecordBatch.from_arrays(arrays, names)

    return docs.select("doc_id", "text").mapInArrow(
        emit,
        schema=_BUCKETED_SCHEMA + (", pos array<long>" if with_pos else ""),
    )


def stats_hot_scan(emitted: DataFrame, conf: BuildConfig) -> tuple[int, dict[str, int]]:
    """A5 + A7 pass 1 + A12 over :func:`emit_postings`' rows, in the JVM:
    per term df = Σ size(doc_ids) and tokens = Σ tfs, then one row holding
    the corpus token total and the hot terms (df > hot_df_threshold).

    → (total_tokens, {hot_term: S_t}), S_t = min(ceil(df / threshold),
    num_salts)"""
    per_term = emitted.groupBy("term").agg(
        F.sum(F.size("doc_ids")).alias("df"),
        F.sum(F.aggregate("tfs", F.lit(0).cast("long"), lambda acc, x: acc + x)).alias("tk"),
    )
    row = per_term.agg(
        F.sum("tk").alias("tk"),
        F.collect_list(
            F.when(F.col("df") > conf.hot_df_threshold, F.struct("term", "df"))
        ).alias("hot"),
    ).collect()[0]
    thr = conf.hot_df_threshold
    hot = {r["term"]: min(-(-int(r["df"]) // thr), conf.num_salts) for r in row["hot"]}
    return int(row["tk"] or 0), hot


def salt_hot_terms(emitted: DataFrame, hot_salts: dict[str, int], buckets: int) -> DataFrame:
    """A7 — :func:`emit_postings`' rows → EMIT_SCHEMA rows: a hot term's
    salt is ``bucket · S_t // buckets`` (``buckets`` = the emit's C), every
    other term's is 0.  One ``IN`` set per distinct S_t, so the expression
    stays small however many terms are hot."""
    by_s: dict[int, list[str]] = {}
    for term, s_t in hot_salts.items():
        if s_t > 1:
            by_s.setdefault(int(s_t), []).append(term)
    salt = F.lit(0)
    for s_t, terms in sorted(by_s.items()):
        salt = F.when(
            F.col("term").isin(terms), F.expr(f"bucket * {s_t} div {buckets}")
        ).otherwise(salt)
    return emitted.withColumn("bucket", salt.cast("int")).withColumnRenamed("bucket", "salt")


def build_posting_partitions(
    emitted: DataFrame,
    *,
    conf: BuildConfig,
    avgdl: float,
    num_partitions: int,
    postings_dir: str,
    manifest_dir: str,
    build_id: str,
    pending: list[int] | None = None,
) -> None:
    """A6+A8+A9+A12 — the shuffle-partitioned build.  Each task writes its
    partition's postings file and manifest; callers read the manifests back
    from ``manifest_dir``."""
    P = num_partitions
    cfg = conf.bm25
    block_size = conf.block_size
    df = emitted
    if pending is not None:
        if not pending:
            return
        df = df.filter(
            F.pmod(F.hash(F.col("term"), F.col("salt")), F.lit(P)).isin(
                [int(p) for p in pending]
            )
        )
    df = (
        df.repartition(P, "term", "salt")
        .sortWithinPartitions("term", "salt")
        .withColumn("pid", F.spark_partition_id())
    )

    k1, b = cfg.k1, cfg.b

    def build(it):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        t0 = time.time()
        schema = codec.postings_schema()
        pid = writer = tmp_path = None
        out: list[pa.RecordBatch] = []  # encoded rows not yet written
        n_postings = n_terms = 0
        top: list[tuple[int, str]] = []
        carry = None  # rows of a group that may continue into the next batch

        def group_starts(rb) -> np.ndarray:
            """First row of each (term, salt) run of the sorted rows."""
            salts = rb.column("salt").to_numpy()
            new = np.ones(rb.num_rows, dtype=bool)
            if rb.num_rows > 1:
                terms = rb.column("term")
                new[1:] = pc.not_equal(terms[1:], terms[:-1]).to_numpy(
                    zero_copy_only=False
                ) | (salts[1:] != salts[:-1])
            return np.flatnonzero(new)

        def write(force: bool = False):
            # 512-row row groups: Index.fetch_postings prunes row groups by
            # their term min/max, so a row group spans a narrow term range
            nonlocal out
            tbl = pa.Table.from_batches(out, schema)
            size = tbl.num_rows if force else tbl.num_rows // 512 * 512
            if size:
                writer.write_table(tbl.slice(0, size), row_group_size=512)
            out = tbl.slice(size).to_batches()

        def encode(rb, firsts: np.ndarray):
            """Encode the rows of ``rb`` — whole groups starting at ``firsts``
            — into one output row per group, in one vectorized pass."""
            nonlocal n_postings, n_terms, top
            lens = pc.list_value_length(rb.column("doc_ids")).to_numpy().astype(np.int64)
            row_grp = np.repeat(np.arange(len(firsts)), np.diff(np.append(firsts, rb.num_rows)))
            grp = np.repeat(row_grp, lens)
            d, t, L = (
                pc.list_flatten(rb.column(c)).to_numpy().astype(np.int64)
                for c in ("doc_ids", "tfs", "dls")
            )
            # packed chunks arrive in arbitrary batch order — re-sort each
            # group's postings by doc_id; final blocks are bit-identical to
            # a per-posting shuffle regardless of batching or parallelism
            order = np.lexsort((d, grp))
            pos = None
            if "pos" in rb.schema.names:
                flat = pc.list_flatten(rb.column("pos")).to_numpy().astype(np.int64)
                pos = codec.reorder_positions(flat, np.cumsum(t) - t, t, order)
            d, t, L, grp = d[order], t[order], L[order], grp[order]
            dup = np.flatnonzero((grp[1:] == grp[:-1]) & (d[1:] <= d[:-1]))
            if len(dup):
                r = firsts[grp[dup[0]]]
                key = (rb.column("term")[r].as_py(), int(rb.column("salt")[r].as_py()))
                raise ValueError(f"duplicate doc_id in posting group {key!r}")
            row_off = np.concatenate(([0], np.cumsum(lens)))
            g_off = np.append(row_off[firsts], row_off[-1])
            blocks = codec.encode_blocks(
                d, t, L, g_off, block_size=block_size, k1=k1, b=b, avgdl=avgdl,
                positions=pos,
            )
            tf_cum = np.concatenate(([0], np.cumsum(t)))
            dfs = np.diff(g_off)
            terms = rb.column("term").take(pa.array(firsts)).cast(pa.string())
            out.append(
                pa.RecordBatch.from_arrays(
                    [
                        terms,
                        pa.array(rb.column("salt").to_numpy()[firsts], type=pa.int32()),
                        pa.array(dfs),
                        pa.array(tf_cum[g_off[1:]] - tf_cum[g_off[:-1]]),
                        blocks,
                    ],
                    schema=schema,
                )
            )
            n_terms += len(firsts)
            n_postings += len(d)
            # manifest top_terms: the 5 largest (df, term) groups
            cand = np.flatnonzero(dfs >= np.sort(dfs)[-min(5, len(dfs))])
            top = sorted(
                top + [(int(dfs[i]), terms[int(i)].as_py()) for i in cand], reverse=True
            )[:5]
            write()

        for batch in it:
            if batch.num_rows == 0:
                continue
            if writer is None:
                pid = int(batch.column("pid")[0].as_py())
                os.makedirs(postings_dir, exist_ok=True)
                tmp_path = os.path.join(
                    postings_dir, f".part-{pid:05d}.parquet.tmp-{os.getpid()}"
                )
                writer = pq.ParquetWriter(tmp_path, schema)
            rb = batch if carry is None else (
                pa.Table.from_batches([carry, batch]).combine_chunks().to_batches()[0]
            )
            firsts = group_starts(rb)
            # the last group may continue into the next batch: carry it over
            if len(firsts) > 1:
                encode(rb.slice(0, int(firsts[-1])), firsts[:-1])
            carry = rb.slice(int(firsts[-1]))
        if writer is None:
            return
        encode(carry, group_starts(carry))
        write(force=True)
        writer.close()
        final = os.path.join(postings_dir, f"part-{pid:05d}.parquet")
        os.replace(tmp_path, final)
        atomic_write_json(
            os.path.join(manifest_dir, f"postings-{pid:05d}.json"),
            {
                "build_id": build_id,
                "stage": "postings",
                "pid": pid,
                "postings": int(n_postings),
                "terms": int(n_terms),
                "bytes": int(os.path.getsize(final)),
                "elapsed_s": round(time.time() - t0, 3),
                "top_terms": [[t, n] for n, t in top],
            },
        )
        yield pa.RecordBatch.from_arrays([pa.array([pid], pa.int32())], ["pid"])

    df.mapInArrow(build, schema="pid int").collect()


def skew_report(manifest_rows: list[dict]) -> dict:
    """A12 — skew diagnostics: max/median partition load from the manifest."""
    if not manifest_rows:
        return {"partitions": 0}
    loads = sorted(int(r["postings"]) for r in manifest_rows)
    med = loads[len(loads) // 2] or 1
    return {
        "partitions": len(loads),
        "postings_total": int(sum(loads)),
        "postings_max": int(loads[-1]),
        "postings_median": int(med),
        "skew_ratio_max_over_median": round(loads[-1] / med, 3),
    }


_DICT_DRIVER_MAX_ROWS = 5_000_000


def write_dictionary(spark, postings_dir: str, dict_dir: str) -> None:
    """A14 support — dictionary = per-term (df, cf) summed over the term's
    postings rows (the heavy ``blocks`` column is never read).

    Adaptive execution: a small vocabulary aggregates driver-side in one
    pyarrow scan (no Spark job — the common case at bench scale and for
    per-segment dictionaries); a large vocabulary (10^12-turn corpora have
    vocabularies far beyond driver memory) falls back to a distributed
    column-pruned groupBy."""
    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    data = ds.dataset(postings_dir, format="parquet")
    if data.count_rows() <= _DICT_DRIVER_MAX_ROWS:
        agg = (
            data.to_table(columns=["term", "df", "cf"])
            .group_by("term", use_threads=False)
            .aggregate([("df", "sum"), ("cf", "sum")])
        )
        os.makedirs(dict_dir, exist_ok=True)
        tmp = os.path.join(dict_dir, f".dict.parquet.tmp-{os.getpid()}")
        pq.write_table(
            pa.table({"term": agg["term"], "df": agg["df_sum"], "cf": agg["cf_sum"]}), tmp
        )
        os.replace(tmp, os.path.join(dict_dir, "part-00000.parquet"))
        for f in os.listdir(dict_dir):
            if f.startswith("part-") and f != "part-00000.parquet":
                os.remove(os.path.join(dict_dir, f))
        return
    (
        spark.read.schema(codec.postings_spark_schema())
        .parquet(postings_dir)
        .groupBy("term")
        .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
        .write.mode("overwrite")
        .parquet(dict_dir)
    )
