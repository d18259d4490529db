"""Mechanism tests for the training-data pipeline operators
(plans/training_data.py) — the DuckDB parity check lives in
test_partb_oracle.py; these verify algorithmic properties the oracle
comparison alone would not pin down."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from localsearchengine_spark.plans.registry import queries

SPARK_QUERIES = queries()

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def test_minhash_lsh_matches_exact_jaccard(spark):
    """DD3 (signatures → band buckets → verify) must find exactly the pairs
    the exact shingle-join (DD5 at the same threshold) finds — LSH recall 1
    on this corpus, candidate verification kills false positives."""
    from localsearchengine_spark.plans import training_data as td

    lsh = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in td.dd03(spark, SF_DIR).collect()
    }
    exact = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in td.dd05(spark, SF_DIR)
        .filter(f"jaccard >= {td._MH_THRESHOLD}")
        .collect()
    }
    assert lsh == exact and len(lsh) > 0


def test_ann_lsh_scores_exact_and_sorted(spark):
    """SIM2 (batch): approximate candidate generation, but per query the
    cosines it reports must equal brute force for those ids, rank-ordered
    descending with vec_id tiebreak, and every query in the set answered."""
    from localsearchengine_spark.plans import training_data as td

    rows = SPARK_QUERIES["sim02_ann_lsh"](spark, SF_DIR).collect()
    emb = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet")).collect()
    }
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == set(td._ANN_QUERY_IDS)
    for qid, qrows in by_q.items():
        assert 0 < len(qrows) <= td._ANN_K
        qrows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in qrows] == list(range(1, len(qrows) + 1))
        keys = [(-r["cos"], r["vec_id"]) for r in qrows]
        assert keys == sorted(keys)
        q = emb[qid]
        for r in qrows:
            assert r["vec_id"] != qid
            v = emb[r["vec_id"]]
            cos = float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
            assert abs(cos - r["cos"]) < 1e-6


def test_frame_sample_shape(spark):
    from localsearchengine_spark.plans import training_data as td

    df = SPARK_QUERIES["mm02_frame_sample"](spark, SF_DIR)
    n_docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).count()
    rows = df.collect()
    assert len(rows) == n_docs * td._MM2_FRAMES
    assert {r["frame_idx"] for r in rows} == set(range(td._MM2_FRAMES))
    # per-frame features are scalar columns (canonicalizer-friendly): the
    # strided segment lengths must re-add to the blob length
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], 0)
        by_doc[r["doc_id"]] += int(r["f_len"])
        assert 0.0 <= r["f_sum"] < 997.0
    assert all(
        tot == next(x["n_bytes"] for x in rows if x["doc_id"] == d)
        for d, tot in by_doc.items()
    )


def test_positional_fingerprint_is_order_sensitive(spark, tmp_path):
    """Same token multiset, different order ⇒ different fp (a bag-of-words
    hash would collide); identical text ⇒ identical fp."""
    docs = pa.Table.from_pylist(
        [
            {"doc_id": 0, "text": "alpha beta gamma", "lang": "en", "source": "s", "n_chars": 16},
            {"doc_id": 1, "text": "gamma beta alpha", "lang": "en", "source": "s", "n_chars": 16},
            {"doc_id": 2, "text": "alpha beta gamma", "lang": "en", "source": "s", "n_chars": 16},
        ]
    )
    pq.write_table(docs, str(tmp_path / "documents.parquet"))
    out = {
        r["doc_id"]: r["fp"]
        for r in SPARK_QUERIES["tx03_positional_fingerprint"](spark, str(tmp_path)).collect()
    }
    assert out[0] == out[2] and out[0] != out[1]


def test_simhash_similar_docs_have_close_hashes(spark, tmp_path):
    """Near-identical texts differ in few simhash bits; unrelated texts in
    many — the property that makes simhash a near-dup filter."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = pa.Table.from_pylist(
        [
            {"doc_id": 0, "text": base, "lang": "en", "source": "s", "n_chars": 1},
            {"doc_id": 1, "text": base + " tail", "lang": "en", "source": "s", "n_chars": 1},
            {"doc_id": 2, "text": "completely different words here entirely unrelated content stream", "lang": "en", "source": "s", "n_chars": 1},
        ]
    )
    pq.write_table(docs, str(tmp_path / "documents.parquet"))
    h = {
        r["doc_id"]: int(r["simhash"])
        for r in SPARK_QUERIES["dd04_simhash"](spark, str(tmp_path)).collect()
    }
    near = bin(h[0] ^ h[1]).count("1")
    far = bin(h[0] ^ h[2]).count("1")
    assert near < far and near <= 12


def test_dd06_banded_recall_vs_exact(spark):
    """The banded-LSH near-dup path must report a subset of the exact
    all-pairs result (precision 1.0 — exact verify guarantees it) with high
    recall at the fixture's 0.42-0.51 pair band (24 bands x 4 bits)."""
    import duckdb

    from localsearchengine_spark.plans import training_data as td

    got = {
        (r["vec_a"], r["vec_b"]) : r["cos"]
        for r in SPARK_QUERIES["dd06_embedding_neardup"](spark, SF_DIR).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{SF_DIR}/embeddings.parquet')"
    )
    exact = {
        (a, b): c
        for a, b, c in con.execute(f"""
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
            SELECT a.vec_id, b.vec_id, round(list_cosine_similarity(a.v, b.v), 6)
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.v, b.v) >= {td._COS_THRESHOLD}
        """).fetchall()
    }
    assert set(got) <= set(exact)              # precision 1.0
    for k, v in got.items():
        assert abs(v - exact[k]) < 1e-6        # verified cosines are exact
    recall = len(got) / max(1, len(exact))
    assert recall >= 0.9, f"banded recall {recall:.3f} over {len(exact)} exact pairs"


def test_dd05_prefix_filter_plans_no_cartesian(spark):
    """dd05 (prefix-filter) and dd06 (banded) must plan their candidate
    generation as equi-joins — no CartesianProduct, and the only
    BroadcastNestedLoopJoin allowed is dd06's 96-row plane fan-out
    (linear in n), never a pair join."""
    for name in ("dd05_ngram_jaccard", "dd06_embedding_neardup"):
        plan = (
            SPARK_QUERIES[name](spark, SF_DIR)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "CartesianProduct" not in plan, name
        if name == "dd05_ngram_jaccard":
            assert "BroadcastNestedLoopJoin" not in plan, name


def test_connected_components_chain_and_forest(spark):
    """Pointer jumping must collapse a worst-case 64-node CHAIN (diameter
    63) within the O(log n) round budget, and keep disjoint components
    separate."""
    from localsearchengine_spark.plans.training_data import connected_components

    chain = [(i + 1, i) for i in range(63)]           # one 64-node path
    clique = [(100 + a, 100 + b) for a in range(4) for b in range(a + 1, 4)]
    pair = [(200, 201)]
    # one row per undirected edge, mixed orientations — the operator
    # symmetrizes internally
    edges = chain + clique + pair
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["v"]: r["label"] for r in connected_components(df, max_rounds=10).collect()}
    assert all(got[i] == 0 for i in range(64))
    assert all(got[100 + i] == 100 for i in range(4))
    assert got[200] == got[201] == 200


def test_documents_fixture_is_pure_ascii():
    """mm02's SQL oracle equates DuckDB character positions/ord() with the
    engine's UTF-8 byte stride — valid only while the documents fixture is
    pure ASCII (octet_length == length).  Enforce it loudly for every scale
    the driver uses, so a future fixture change fails here instead of
    silently diverging (round-2 ADVICE #2)."""
    import os

    import pyarrow.parquet as pq

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        p = f"/root/testdata/{sf}/documents.parquet"
        if not os.path.exists(p):
            continue
        texts = pq.read_table(p, columns=["text"])["text"].to_pylist()
        bad = [t for t in texts if t is not None and len(t.encode("utf-8")) != len(t)]
        assert not bad, f"{sf}: {len(bad)} non-ASCII documents break the mm02 oracle"


def test_dd03_identical_doc_flood_stays_linear(spark, tmp_path):
    """Verdict #6: a 1000-identical-docs flood must NOT make the LSH band
    self-join quadratic — duplicate groups collapse to one representative,
    so candidate volume is bounded by distinct-text structure, while the
    output still contains every flood pair at jaccard 1."""
    import pandas as pd

    from localsearchengine_spark.plans.training_data import (
        _minhash_band_candidates,
        _minhash_sigs,
        dd03_group_stats,
    )

    n_dup = 1000
    rows = [
        {"doc_id": i, "text": "the quick brown fox jumps over the lazy dog"}
        for i in range(n_dup)
    ]
    rows += [
        {"doc_id": n_dup + i, "text": f"wholly unrelated document number {i} talking about topic {i * 7}"}
        for i in range(5)
    ]
    d = tmp_path / "flood"
    d.mkdir()
    pd.DataFrame(rows).to_parquet(d / "documents.parquet")

    stats = dd03_group_stats(spark, str(d))
    assert stats == {"n_docs": 1005, "n_groups": 6, "max_group": 1000}

    # candidate volume over representatives: ≤ C(6,2) pairs, not ~500k
    docs = spark.read.parquet(str(d / "documents.parquet"))
    reps = docs.groupBy(F.md5("text").alias("fp")).agg(
        F.min("doc_id").alias("doc_id"), F.first("text").alias("text")
    )
    sigs = reps.select("doc_id", "text").mapInPandas(
        _minhash_sigs, schema="doc_id long, band int, k1 long, k2 long"
    )
    assert _minhash_band_candidates(sigs).count() <= 15

    out = SPARK_QUERIES["dd03_minhash_lsh"](spark, str(d))
    flood = out.filter((F.col("doc_a") < n_dup) & (F.col("doc_b") < n_dup))
    assert flood.count() == n_dup * (n_dup - 1) // 2
    assert flood.filter(F.col("jaccard") != 1.0).count() == 0


def test_dd09_banding_is_lossless(spark):
    """DD9's pigeonhole band join must find EXACTLY the all-pairs Hamming
    <= RADIUS set (banding with RADIUS+1 disjoint bands is lossless, not
    probabilistic) — verified against a direct all-pairs popcount."""
    from localsearchengine_spark.plans import training_data as td

    got = {
        (r["doc_a"], r["doc_b"], r["dist"])
        for r in td.dd09(spark, SF_DIR).collect()
    }
    sh = {
        r["doc_id"]: r["simhash"]
        for r in td._simhash_df(
            spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        ).collect()
    }
    ids = sorted(sh)
    want = {
        (a, b, bin(sh[a] ^ sh[b]).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sh[a] ^ sh[b]).count("1") <= td._DD09_RADIUS
    }
    assert got == want and len(got) > 0


def test_sim03_cells_partition_and_recall(spark):
    """IVF invariants: every vector lands in exactly one cell; all K cells
    are non-degenerate on the fixture; and nprobe=4/16 recall vs the exact
    brute-force top-10 clears 2x the random-probe baseline (the synthetic
    embeddings are near-uniform, so 0.5 mean measured; the knob at real
    data is nprobe)."""
    import numpy as np

    from localsearchengine_spark.plans import training_data as td

    emb, assign, _ = td._ivf_parts(spark, SF_DIR)
    # cell assignment must stay shuffle-free: per-row argmin over the
    # centroid literal, no crossJoin fan-out, no groupBy(vec_id) exchange
    plan = assign._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    cells = assign.collect()
    assert len(cells) == emb.count()  # one cell per vector
    sizes = {}
    for r in cells:
        assert 1 <= r["cell"] <= td._IVF_K
        sizes[r["cell"]] = sizes.get(r["cell"], 0) + 1
    assert len(sizes) == td._IVF_K

    rows = emb.select("vec_id", "v").collect()
    ids = np.array([r["vec_id"] for r in rows])
    V = np.array([r["v"] for r in rows], dtype=np.float64)
    nrm = np.linalg.norm(V, axis=1)
    got = {}
    for r in td.sim03(spark, SF_DIR).collect():
        got.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = []
    for q in td._ANN_QUERY_IDS:
        qi = int(np.where(ids == q)[0][0])
        cos = V @ V[qi] / (nrm * nrm[qi])
        cos[qi] = -2.0
        order = np.lexsort((ids, -cos))
        exact = set(ids[order[: td._ANN_K]].tolist())
        recalls.append(len(got.get(q, set()) & exact) / td._ANN_K)
    assert sum(recalls) / len(recalls) >= 0.4


def test_tx05_winnowing_coverage_and_match_guarantee(spark, tmp_path):
    """The two winnowing theorems (Schleimer et al. 2003) on real data:
    (1) coverage — every window of W consecutive gram positions contains a
    selected fingerprint; (2) the match guarantee — two documents sharing
    a token run of length >= W + NGRAM - 1 share a fingerprint hash."""
    from localsearchengine_spark.plans import training_data as td

    sel = {}
    for r in td.tx05(spark, SF_DIR).collect():
        sel.setdefault(r["doc_id"], set()).add(r["pos"])
    ng = {
        r["doc_id"]: r["ng"]
        for r in spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        .select(
            "doc_id",
            (F.size(F.split("text", " ")) - (td._NGRAM - 1)).alias("ng"),
        )
        .filter(F.col("ng") >= td._WIN_W)
        .collect()
    }
    assert set(sel) == set(ng)
    for doc, n in ng.items():
        poss = sel[doc]
        for s in range(0, n - td._WIN_W + 1):
            assert any(s <= p < s + td._WIN_W for p in poss), (doc, s)

    # (2) shared run of W + NGRAM - 1 = 6 tokens, different surroundings
    run = "alpha beta gamma delta epsilon zeta"
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([1, 2], pa.int64()),
                "text": [
                    "one two three " + run + " four five six seven",
                    "red green blue cyan " + run + " pink white",
                ],
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    out = td.tx05(spark, str(tmp_path)).collect()
    fps = {}
    for r in out:
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    assert fps[1] & fps[2]


def _write_docs_table(tmp_path, texts):
    pq.write_table(
        pa.table({"doc_id": pa.array(range(len(texts)), pa.int64()), "text": texts}),
        str(tmp_path / "documents.parquet"),
    )
    return str(tmp_path)


def test_sk03_exact_under_mg_eviction(spark, tmp_path):
    """SK3's Misra-Gries candidate pass must stay EXACT when the per-
    partition counter budget overflows: 2000 distinct rare tokens (>> the
    256 counters) plus two genuinely heavy tokens — the heavy ones must
    survive the vectorized decrement and the exact recount must equal the
    plain groupBy answer."""
    from localsearchengine_spark.plans import training_data as td

    rare = [f"r{i:04d}" for i in range(2000)]
    texts = [" ".join(rare[i * 40:(i + 1) * 40]) for i in range(50)]
    texts += ["hot " * 200 + "warm " * 120] * 10  # heavy: hot 2000, warm 1200
    sf = _write_docs_table(tmp_path, [t.strip() for t in texts])

    got = {r["term"]: r["cnt"] for r in td.sk03(spark, sf).collect()}
    toks = (
        spark.read.parquet(os.path.join(sf, "documents.parquet"))
        .select(F.explode(F.split("text", " ")).alias("term"))
    )
    n = toks.count()
    exact = {
        r["term"]: r["cnt"]
        for r in toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt")).collect()
        if r["cnt"] * td._HH_K > n
    }
    assert got == exact and "hot" in got and "warm" in got


def test_tx12_chunks_hand_computed(spark, tmp_path):
    """TX12 on a 100-token doc: windows at 1, 49, 97 with lengths 64/52/4;
    a short doc yields exactly one short chunk."""
    import hashlib

    from localsearchengine_spark.plans import training_data as td

    toks100 = [f"t{i}" for i in range(100)]
    sf = _write_docs_table(tmp_path, [" ".join(toks100), "only three tokens"])
    rows = sorted(
        (tuple(r) for r in td.tx12(spark, sf).collect()),
        key=lambda r: (r[0], r[1]),
    )

    def h(toks):
        return hashlib.md5(" ".join(toks).encode()).hexdigest()

    assert rows == [
        (0, 0, 1, 64, h(toks100[0:64])),
        (0, 1, 49, 52, h(toks100[48:100])),
        (0, 2, 97, 4, h(toks100[96:100])),
        (1, 0, 1, 3, h(["only", "three", "tokens"])),
    ]


def test_b27_latest_upsert_tie_break(spark, tmp_path):
    """B27 ties on ts resolve by event_id desc, and `value` rides along
    without deciding the struct-max order."""
    import pandas as pd

    ev = pd.DataFrame(
        {
            "event_id": [1, 2, 3],
            "ts": pd.to_datetime(
                ["2024-01-01 10:00"] * 2 + ["2024-01-01 09:00"]
            ).astype("datetime64[us]"),
            "user_id": [5, 5, 5],
            "event_type": ["click"] * 3,
            "value": [9.0, 1.0, 99.0],  # the ts/event_id winner has the SMALL value
            "props": ["{}"] * 3,
        }
    )
    pq.write_table(pa.Table.from_pandas(ev, preserve_index=False),
                   str(tmp_path / "events.parquet"))
    out = SPARK_QUERIES["b27_latest_event_upsert"](spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["event_id"], r["value"]) == (2, 1.0)
