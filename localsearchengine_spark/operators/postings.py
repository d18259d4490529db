"""A4–A9, A12 — posting emission, salted shuffle build, block compression,
segment write, per-partition metrics.

BASELINE.json:6 mandates: "per-turn posting emission", "a shuffle-partitioned
posting-list build with salted repartitioning for hot terms", "delta+varint
block compression of sorted docID postings persisted as ... segments",
"explicit skew diagnostics and per-partition build metrics".

Dataflow (SURVEY.md §3.1):

    docs(doc_id, text)
      → mapInArrow term_freq_arrow           [Arrow batch, no per-row Python,
        no pandas construction — RecordBatches in and out]
      → (term, salt, doc_id, tf, dl)         salt: hot terms get doc_id-range
                                             buckets so sub-postings are
                                             disjoint + ordered (A7)
      → filter pmod(hash(term,salt),P) ∈ pending   [resume pruning, A11]
      → repartition(P, term, salt) → sortWithinPartitions(term, salt)
        [packed rows: one per (term,salt,batch) — doc_id order is restored
        inside the encode task]
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

Hot-term salting: salt = floor(doc_id * S_t / N) with S_t = ceil(df_t /
hot_df_threshold) — contiguous doc_id ranges, so the final posting list for a
term is the concatenation of its salt rows in salt order (no k-way merge
needed), and per-task group state is bounded by ~hot_df_threshold postings
(SURVEY.md §7.4-2).
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

# One emitted row per (term, salt) PER ARROW BATCH, with the batch's
# postings packed into array columns — the map-side combine that keeps the
# build's one big shuffle at ~vocab×batches rows instead of one row per
# posting (30×+ fewer rows, no per-posting UnsafeRow overhead, and the JVM
# sort runs on the packed rows).  Postings are re-sorted by doc_id inside
# the encode task, so the final blocks are bit-identical to a per-posting
# shuffle regardless of batch boundaries or parallelism.
EMIT_SCHEMA = (
    "term string, salt int, doc_ids array<long>, tfs array<long>, dls array<long>"
)
EMIT_SCHEMA_POS = EMIT_SCHEMA + ", pos array<long>"
# salts are capped at 4096 buckets (stats_hot_scan), so this packs a
# (term_code, salt) pair into one sortable int64 group key
_SALT_CAP = 4096

# empty string can never be a real term (token_pattern requires ≥1 char),
# so it is a safe in-band carrier for the per-batch corpus-stats partials.
_STATS_SENTINEL = ""


def stats_hot_scan(docs: DataFrame, conf: BuildConfig) -> tuple[int, int, dict[str, int]]:
    """A5 + A7 pass 1 + A12, fused: ONE tokenize pass over the corpus.

    Each Arrow batch emits partial aggregates — ``(term, df_part)`` for the
    batch's distinct (doc, term) pairs plus one sentinel row carrying the
    batch's ``(n_docs, n_tokens)`` — so the shuffle moves per-batch vocab
    rows, not exploded postings, and a single small hash-aggregate action
    yields exact corpus stats AND the exact hot-term document frequencies.

    → (n_docs, total_tokens, {hot_term: n_salt_buckets})
    """
    cfg = conf.bm25

    def partials(it):
        import pyarrow as pa

        from localsearchengine_spark.functions.analyze import term_freq_arrow

        for batch in it:
            if batch.num_rows == 0:
                continue
            res = term_freq_arrow(batch.column(0), cfg)
            if res is None:
                # token-less batch still counts toward N
                terms, dfp = pa.array([], type=pa.string()), np.empty(0, np.int64)
                n_tok = 0
            else:
                # per-batch df per unique term in one bincount over codes
                dfp_all = np.bincount(res["codes"], minlength=len(res["uniq"]))
                nz = np.flatnonzero(dfp_all)
                terms = pa.array(res["uniq"][nz], type=pa.string())
                dfp = dfp_all[nz].astype(np.int64)
                n_tok = int(res["tf"].sum())
            yield pa.RecordBatch.from_arrays(
                [
                    pa.concat_arrays([terms, pa.array([_STATS_SENTINEL], type=pa.string())]),
                    pa.array(np.concatenate((dfp, [0])), type=pa.int64()),
                    pa.array(
                        np.concatenate((np.zeros(len(dfp), np.int64), [batch.num_rows]))
                    ),
                    pa.array(np.concatenate((np.zeros(len(dfp), np.int64), [n_tok]))),
                ],
                ["term", "df_part", "n_docs", "n_tokens"],
            )

    emitted = docs.select("text").mapInArrow(
        partials, schema="term string, df_part long, n_docs long, n_tokens long"
    )
    rows = (
        emitted.groupBy("term")
        .agg(
            F.sum("df_part").alias("df"),
            F.sum("n_docs").alias("nd"),
            F.sum("n_tokens").alias("tk"),
        )
        .filter(
            (F.col("term") == _STATS_SENTINEL) | (F.col("df") > conf.hot_df_threshold)
        )
        .collect()
    )
    n_docs, total_tokens, hot = 0, 0, {}
    for r in rows:
        if r["term"] == _STATS_SENTINEL:
            n_docs, total_tokens = int(r["nd"]), int(r["tk"])
        else:
            s_t = int(np.ceil(r["df"] / conf.hot_df_threshold))
            # num_salts caps the per-term fan-out (bounds shuffle group
            # count; a capped bucket may then exceed hot_df_threshold).
            # _SALT_CAP is a hard ceiling: the emit stage packs (term,
            # salt) into code*_SALT_CAP+salt, so a salt ≥ _SALT_CAP would
            # alias a different term's group
            cap = min(conf.num_salts, _SALT_CAP) if conf.num_salts > 0 else _SALT_CAP
            hot[r["term"]] = int(min(s_t, cap))
    return n_docs, total_tokens, hot


def emit_postings(
    docs: DataFrame,
    conf: BuildConfig,
    hot_salts: dict[str, int],
    n_total: int,
    doc_id_base: int = 0,
) -> DataFrame:
    """A4 — fused tokenize + per-turn tf emission (one Arrow pass, no
    (doc,term) shuffle: tf is computed within the row's own batch)."""
    cfg = conf.bm25
    sc = docs.sparkSession.sparkContext
    hot_bc = sc.broadcast(hot_salts)
    n_total = int(n_total)
    base = int(doc_id_base)

    with_pos = bool(conf.store_positions)

    def emit(it):
        import pyarrow as pa

        from localsearchengine_spark.functions.analyze import term_freq_arrow

        hot = hot_bc.value
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
            n = len(doc_ids)
            codes = res["codes"]
            salts = np.zeros(n, dtype=np.int64)
            if hot:
                # hot lookup once per UNIQUE term, then a fancy-index —
                # not a Python call per posting row
                s_uniq = np.fromiter(
                    (hot.get(t, 0) for t in res["uniq"]),
                    dtype=np.int64,
                    count=len(res["uniq"]),
                )
                s_t = s_uniq[codes]
                m = s_t > 1
                if m.any():
                    salts[m] = (doc_ids[m] - base) * s_t[m] // n_total
                if salts.max(initial=0) >= _SALT_CAP:
                    raise ValueError(
                        f"salt bucket ≥ {_SALT_CAP} would alias another "
                        "term's group key (stats_hot_scan must clamp)"
                    )
            # pack the batch per (term, salt): one output row per group,
            # postings sorted by doc_id inside each group
            key = codes * _SALT_CAP + salts
            order = np.lexsort((doc_ids, key))
            ks = key[order]
            first = np.empty(n, dtype=bool)
            first[0] = True
            np.not_equal(ks[1:], ks[:-1], out=first[1:])
            gstarts = np.flatnonzero(first)
            goff = np.append(gstarts, n).astype(np.int32)
            gcodes = (ks[gstarts] // _SALT_CAP).astype(np.int64)
            gsalts = (ks[gstarts] % _SALT_CAP).astype(np.int32)
            dict_arr = pa.array(res["uniq"], type=pa.string())
            tf_ord = res["tf"][order]
            arrays = [dict_arr.take(pa.array(gcodes)), pa.array(gsalts, type=pa.int32())]
            arrays += [
                pa.ListArray.from_arrays(pa.array(goff), pa.array(v, type=pa.int64()))
                for v in (doc_ids[order], tf_ord, res["dl"][order])
            ]
            names = ["term", "salt", "doc_ids", "tfs", "dls"]
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
        emit, schema=EMIT_SCHEMA_POS if with_pos else EMIT_SCHEMA
    )


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
