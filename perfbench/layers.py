"""Where the traced run times each layer: the module and class attributes
the engine calls its layers through, named after the package's modules.

``install`` patches them for the traced pass of a run and the tracer's
``uninstall`` restores them.  The codec's build-side encode and the
analyzer run inside Spark tasks, where no driver-side wrapper reaches; their
cost shows as the task time of the stages charged to the wrapper that
launched them (``postings.stats_hot_scan``,
``postings.build_posting_partitions``).
"""

from __future__ import annotations


def install(tr, ctx) -> None:
    """Wrap every layer boundary for ``tr``; ``ctx`` supplies the CPU
    readings taken around each segment build."""
    from localsearchengine_spark import build as B
    from localsearchengine_spark.operators import codec
    from localsearchengine_spark.operators import delete as D
    from localsearchengine_spark.operators import search as S
    from localsearchengine_spark.streaming import incremental as INC

    P = B.P_mod

    # ---- build: docs stage (docids + doc store), postings, dictionary ----
    tr.wrap(B, "_write_docstore", "operators.docids", spark_jobs=True)
    tr.wrap(P, "stats_hot_scan", "postings.stats_hot_scan", spark_jobs=True)
    tr.wrap(P, "build_posting_partitions", "postings.build_posting_partitions", spark_jobs=True)
    tr.wrap(P, "write_dictionary", "postings.write_dictionary", spark_jobs=True)

    # ---- driver-local search ----------------------------------------------
    def count_hits(args, kwargs):
        index, terms = args[0], args[1] if len(args) > 1 else kwargs["terms"]
        uniq = set(terms)
        tr.count("search.terms_requested", len(uniq))
        tr.count("search.cache_hits", sum(1 for t in uniq if t in index._cache))

    tr.wrap(S.Index, "__init__", "search.Index")
    tr.wrap(S.Index, "lookup", "search.lookup")
    tr.wrap(S.Index, "fetch_postings", "search.fetch_postings", before=count_hits)
    tr.wrap(S.Index, "fetch_docs", "search.fetch_docs")
    tr.wrap(S.Index, "reload_tombstones", "search.reload_tombstones")
    tr.wrap(S, "_and_topk", "search.and_topk")
    tr.wrap(S, "_or_topk", "search.or_topk")

    def touched(args, kwargs):
        tr.count("wand.blocks_touched", sum(p.n_blocks for p in args[0]))

    tr.wrap(S, "wand_topk", "wand.wand_topk", before=touched)

    def decoded(n_of):
        def after(args, kwargs, out):
            n = n_of(args)
            tr.count("codec.blocks_decoded", n)
            if tr.active("wand.wand_topk"):
                tr.count("wand.blocks_decoded", n)
        return after

    tr.wrap(codec.StreamBlocks, "decode_all", "codec.decode_all",
            after=decoded(lambda a: len(a[0].counts)))
    tr.wrap(codec.StreamBlocks, "decode_block", "codec.decode_block",
            after=decoded(lambda a: 1))

    # ---- append: segment build, merge, deletes ----------------------------
    tr.wrap(INC, "build_index", "incremental.build_index", spark_jobs=True, anchor=True,
            sample=lambda: (ctx.tree_cpu(), ctx.jvm_cpu()))
    tr.wrap(INC, "merge_indexes", "merge.merge_indexes", spark_jobs=True)
    tr.wrap(D, "delete_docs", "delete.delete_docs")
