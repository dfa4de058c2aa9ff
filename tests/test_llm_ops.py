"""Family 3 tests: dedup / similarity / text analysis.

Exact-oracle parity is covered by tools/check.py; these tests pin the
approximate operators (LSH, SimHash) against their exact baselines —
the property that matters: candidate pruning must not lose true pairs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from opencode_hive_archon_spark.operators import dedup as D
from opencode_hive_archon_spark.operators import similarity as S
from opencode_hive_archon_spark.operators import textops as T


def test_dedup_near_finds_planted_pairs(spark, sf_dir):
    pairs = D.dedup_near(spark, sf_dir).collect()
    assert len(pairs) > 0, "generator plants near-dup docs (the 'dup' marker)"
    for p in pairs:
        assert p["jaccard"] >= D.JACCARD_THRESHOLD
        assert p["doc_a"] < p["doc_b"]


def test_dedup_ngram_jaccard_pairs(spark, sf_dir):
    """Char-5-gram Jaccard: valid pairs above threshold, and near-identical
    texts (the planted exact dups) must appear regardless of tokenization."""
    pairs = D.dedup_ngram_jaccard(spark, sf_dir).collect()
    assert len(pairs) > 0
    for p in pairs:
        assert p["jaccard"] >= D.JACCARD_THRESHOLD
        assert p["doc_a"] < p["doc_b"]


def test_minhash_lsh_recall_vs_exact(spark, sf_dir):
    """LSH candidates + exact verify must recover every exact near-dup pair
    whose docs fall in the same length band (the exact query's blocking)."""
    exact = {
        (r["doc_a"], r["doc_b"]) for r in D.dedup_near(spark, sf_dir).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"]) for r in D.dedup_minhash_lsh(spark, sf_dir).collect()
    }
    assert exact, "need planted pairs for a meaningful recall test"
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.9, f"minhash recall {recall:.2f} (exact={len(exact)}, lsh={len(lsh)})"
    # every LSH-emitted pair is jaccard-verified, so no false positives
    for a, b in lsh:
        assert a < b


def test_simhash_pairs_are_near(spark, sf_dir):
    rows = D.dedup_simhash(spark, sf_dir).collect()
    for r in rows[:50]:
        assert r["hamming"] <= D.HAMMING_MAX


def test_dedup_exact_consistency(spark, sf_dir):
    row = D.dedup_exact(spark, sf_dir).first()
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert row["n_docs"] == n_docs
    assert row["n_distinct_texts"] + row["n_redundant_docs"] == n_docs


def test_ann_lsh_recall(spark, sf_dir):
    """LSH top-k must overlap heavily with brute-force top-k."""
    brute = [r["vec_id"] for r in S.similarity_topk(spark, sf_dir).collect()]
    approx = [r["vec_id"] for r in S.ann_lsh_topk(spark, sf_dir).collect()]
    assert len(approx) > 0, "LSH buckets must produce candidates"
    # sims of returned candidates must be exact (re-ranked), so any overlap
    # item agrees in order; require >= 30% top-10 recall for 3x5-bit tables.
    overlap = len(set(brute) & set(approx))
    assert overlap >= 3, f"ANN recall too low: {overlap}/10 (brute={brute}, ann={approx})"


def test_ann_pq_recall_and_code_shape(spark, sf_dir):
    """PQ's ADC pool must recall most of the brute-force top-10 (the pool
    is 50 of ~500, so chance overlap would be ~1), and the returned sims
    must be the exact cosine (rescored), matching brute-force values."""
    brute = {r["vec_id"]: r["sim"] for r in S.similarity_topk(spark, sf_dir).collect()}
    pq = {r["vec_id"]: r["sim"] for r in S.ann_pq_topk(spark, sf_dir).collect()}
    assert len(pq) == 10
    overlap = set(brute) & set(pq)
    assert len(overlap) >= 5, f"PQ recall too low: {len(overlap)}/10"
    for vid in overlap:
        assert pq[vid] == brute[vid], f"rescore not exact for {vid}"


def test_similarity_topk_bounds(spark, sf_dir):
    rows = S.similarity_topk(spark, sf_dir).collect()
    assert len(rows) == 10
    sims = [r["sim"] for r in rows]
    assert sims == sorted(sims, reverse=True)
    assert all(-1.0 <= s <= 1.0 for s in sims)


def test_embedding_near_dup_symmetric_bound(spark, sf_dir):
    rows = S.dedup_embedding_cosine(spark, sf_dir).collect()
    for r in rows:
        assert r["vec_a"] < r["vec_b"]
        assert r["sim"] >= S.NEAR_DUP_COSINE


def test_embedding_dedup_recall_vs_all_pairs(spark, sf_dir):
    """The shipped LSH-pruned pair set must (a) be a strict subset of the
    exhaustive all-pairs result — the verify step readmits nothing — and
    (b) recover a meaningful share of it, heavily weighted toward the
    highest-similarity (true near-dup) pairs LSH is built to catch."""
    exact = {
        (r["vec_a"], r["vec_b"]): r["sim"]
        for r in S._all_pairs_cosine(spark, sf_dir).collect()
    }
    lsh = {(r["vec_a"], r["vec_b"]) for r in S.dedup_embedding_cosine(spark, sf_dir).collect()}
    assert exact and lsh
    assert lsh <= set(exact), "LSH+verify must never emit a pair the exact join lacks"
    assert len(lsh) / len(exact) >= 0.6, f"overall recall {len(lsh)/len(exact):.2f}"
    top = sorted(exact, key=lambda k: -exact[k])[: max(10, len(exact) // 20)]
    top_recall = len(lsh & set(top)) / len(top)
    assert top_recall >= 0.7, f"top-similarity recall {top_recall:.2f}"


def test_quality_scores_bounded(spark, sf_dir):
    rows = T.text_quality_score(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["quality_score"] <= 1.0
        assert 0.0 <= r["stopword_ratio"] <= 1.0


def test_langid_covers_all_docs(spark, sf_dir):
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    agg = T.text_langid(spark, sf_dir).agg(F.sum("n_docs")).first()[0]
    assert agg == n_docs


def test_fingerprint_unique_iff_text_unique(spark, sf_dir):
    fp = T.text_fingerprint(spark, sf_dir)
    n_fp = fp.select("fingerprint").distinct().count()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_text = docs.select(F.lower(F.trim("text"))).distinct().count()
    assert n_fp == n_text


def test_ann_ivf_recall(spark, sf_dir):
    """IVF with nprobe=2 of 8 cells must recover a meaningful share of the
    brute-force top-10 and return exactly re-ranked cosines."""
    brute = [r["vec_id"] for r in S.similarity_topk(spark, sf_dir).collect()]
    ivf = S.ann_ivf_topk(spark, sf_dir).collect()
    assert len(ivf) == 10
    sims = [r["sim"] for r in ivf]
    assert sims == sorted(sims, reverse=True)
    overlap = len(set(brute) & {r["vec_id"] for r in ivf})
    assert overlap >= 2, f"IVF recall too low: {overlap}/10"


def test_lsh_width_is_a_scale_knob(spark, sf_dir):
    """The 100TB sizing rule (similarity.py SCALE RULE): widening the bucket
    key (more bits) must monotonically shrink the candidate set without
    changing the pipeline shape, and raising L must recover candidates —
    these two knobs are what a real deployment turns as n grows."""

    def n_candidates(tables: int, bits: int) -> int:
        sigs = S.lsh_bucketed(spark, sf_dir, tables=tables, bits=bits).select(
            "vec_id", "table", "sig"
        )
        return (
            sigs.alias("x")
            .join(sigs.alias("y"), ["table", "sig"])
            .filter(F.col("x.vec_id") < F.col("y.vec_id"))
            .select("x.vec_id", "y.vec_id")
            .distinct()
            .count()
        )

    narrow = n_candidates(4, 3)
    wide = n_candidates(4, 6)
    assert wide < narrow, f"wider buckets must prune harder ({wide} !< {narrow})"
    more_tables = n_candidates(8, 6)
    assert more_tables >= wide, "extra tables can only add candidates"
    # Shape invariant: signature width == bits for any (L, B).
    row = S.lsh_bucketed(spark, sf_dir, tables=2, bits=7).select("sig").first()
    assert len(row["sig"]) == 7


def test_ann_quantized_recall(spark, sf_dir):
    """SQ8 quantization error must not cost more than 2 of the true top-10
    (the exact-rescore pool absorbs ranking noise in the approximate score)."""
    brute = [r["vec_id"] for r in S.similarity_topk(spark, sf_dir).collect()]
    sq8 = [r["vec_id"] for r in S.ann_quantized_topk(spark, sf_dir).collect()]
    overlap = len(set(brute) & set(sq8))
    assert overlap >= 8, f"SQ8 recall too low: {overlap}/10 (brute={brute}, sq8={sq8})"


def test_corpus_curation_invariants(spark, sf_dir):
    """The curation report must be consistent with its own gates: every kept
    group has docs, per-lang counts never exceed the raw corpus, and average
    quality clears the floor (kept docs all scored >= CURATION_MIN_QUALITY)."""
    rep = {r["lang"]: r for r in T.corpus_curation(spark, sf_dir).collect()}
    raw = {r["lang"]: r["n_docs"] for r in T.text_lang_profile(spark, sf_dir).collect()}
    assert rep, "curation must keep something"
    for lang, r in rep.items():
        assert 0 < r["n_docs"] <= raw[lang]
        assert r["avg_quality"] >= T.CURATION_MIN_QUALITY
        assert r["total_ws_tokens"] > 0


def test_dedup_clusters_invariants(spark, sf_dir):
    """Cluster labels must be consistent with the pair graph: both docs of
    every near-dup pair share a cluster, each cluster id is its min member,
    and exactly one doc per cluster carries keep=True."""
    pairs = [(r["doc_a"], r["doc_b"]) for r in D.dedup_near(spark, sf_dir).collect()]
    rows = D.dedup_clusters(spark, sf_dir).collect()
    label = {r["doc_id"]: r["cluster_id"] for r in rows}
    for a, b in pairs:
        assert label[a] == label[b], f"pair ({a},{b}) split across clusters"
    import collections
    members = collections.defaultdict(list)
    for did, cid in label.items():
        members[cid].append(did)
    for cid, docs in members.items():
        assert cid == min(docs)
    keeps = [r for r in rows if r["keep"]]
    assert len(keeps) == len(members)
    sizes = {r["cluster_id"]: r["cluster_size"] for r in rows}
    assert all(sizes[cid] == len(docs) for cid, docs in members.items())


def _planted_graphs():
    """Deterministic planted graphs that stress both CC algorithms: long
    chains (worst case for min-label's O(diameter)), cliques, stars, binary
    trees, and seeded random unions of those shapes."""
    import random

    graphs = []
    chain = [(f"d{i:03d}", f"d{i + 1:03d}") for i in range(15)]
    graphs.append(("chain16", chain))
    clique = [
        (f"c{i}", f"c{j}") for i in range(6) for j in range(i + 1, 6)
    ]
    graphs.append(("clique6", clique))
    star = [("hub", f"leaf{i:02d}") for i in range(10)]
    graphs.append(("star10", star))
    tree = [
        (f"t{i:02d}", f"t{2 * i + k:02d}") for i in range(7) for k in (1, 2)
    ]
    graphs.append(("tree15", tree))
    for seed in (7, 42, 1234):
        rng = random.Random(seed)
        n = 40
        edges = {
            tuple(sorted((f"r{rng.randrange(n):02d}", f"r{rng.randrange(n):02d}")))
            for _ in range(45)
        }
        graphs.append((f"rand{seed}", [(a, b) for a, b in edges if a != b]))
    return graphs


def test_cc_equivalence_on_planted_graphs(spark):
    """Label-for-label agreement between alternating large-star/small-star
    (the registered production path) and min-label propagation on planted
    graphs, cross-checked against a driver-side union-find ground truth."""
    for name, edge_list in _planted_graphs():
        pairs = spark.createDataFrame(
            [(min(a, b), max(a, b)) for a, b in edge_list],
            "doc_a string, doc_b string",
        ).distinct()
        star = {
            r["doc_id"]: r["label"] for r in D.cc_alternating_star(pairs).collect()
        }
        minlab = {
            r["doc_id"]: r["label"] for r in D.cc_min_label(pairs).collect()
        }
        # ground truth: union-find over the same edges
        parent: dict[str, str] = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edge_list:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        truth = {n_: min(m for m in parent if find(m) == find(n_)) for n_ in parent}
        assert star == truth, f"{name}: star labels diverge from union-find"
        assert minlab == truth, f"{name}: min-label labels diverge from union-find"


def test_cc_equivalence_on_real_pairs(spark, sf_dir):
    """Both CC paths agree on the actual near-dup pair graph."""
    pairs = D.dedup_near(spark, sf_dir).select("doc_a", "doc_b")
    star = {r["doc_id"]: r["label"] for r in D.cc_alternating_star(pairs).collect()}
    minlab = {r["doc_id"]: r["label"] for r in D.cc_min_label(pairs).collect()}
    assert star == minlab and star


def test_graph_khop_invariants(spark, sf_dir):
    """BFS contract: seeds are exactly the hop-0 rows, every hop-k node
    (k>=1) has a hop-(k-1) neighbor in the near-dup edge graph, and no node
    appears at a hop higher than its shortest distance (level-synchronous
    anti-join guarantees first-seen = min hop)."""
    from opencode_hive_archon_spark.operators import graph as G

    rows = G.recall_graph_khop(spark, sf_dir).collect()
    hop = {r["vec_id"]: r["hop"] for r in rows}
    assert len(rows) == len(hop), "a node may appear at exactly one hop"
    assert {v for v, h in hop.items() if h == 0} == set(G.GRAPH_SEEDS)
    assert max(hop.values()) <= G.K_HOPS
    pairs = [
        (r["vec_a"], r["vec_b"])
        for r in S.dedup_embedding_cosine(spark, sf_dir).collect()
    ]
    nbrs: dict[int, set[int]] = {}
    for a, b in pairs:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    for v, h in hop.items():
        if h == 0:
            continue
        assert any(hop.get(n) == h - 1 for n in nbrs.get(v, ())), (
            f"node {v} at hop {h} has no hop-{h-1} neighbor"
        )


def test_dedup_pipeline_invariants(spark, sf_dir):
    """corpus_dedup_pipeline: the canonical mapping must be internally
    consistent — kept iff self-canonical, every canonical id is itself a
    kept doc, exact-duplicate groups collapse onto ONE canonical, and the
    ladder's kept set can only shrink relative to the exact-dedup stage."""
    rows = D.corpus_dedup_pipeline(spark, sf_dir).collect()
    by_id = {r["doc_id"]: r for r in rows}
    kept = {r["doc_id"] for r in rows if r["status"] == "kept"}
    for r in rows:
        assert (r["status"] == "kept") == (r["doc_id"] == r["canonical_id"])
        # the canonical target must itself survive the whole ladder
        assert by_id[r["canonical_id"]]["status"] == "kept", r
        # canonical is the minimum of its group by construction
        assert r["canonical_id"] <= r["doc_id"]
    # exact duplicates (same normalized text) map to one canonical
    docs = {
        d["doc_id"]: " ".join(d["text"].strip().lower().split())
        for d in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    groups: dict = {}
    for doc_id, norm in docs.items():
        groups.setdefault(norm, []).append(doc_id)
    for ids in groups.values():
        canon = {by_id[i]["canonical_id"] for i in ids}
        assert len(canon) == 1, f"exact group {ids} split across {canon}"
    # ladder keeps at most as many docs as exact dedup alone
    assert len(kept) <= len(groups)


def _greedy_reference(s: str, merges: dict[str, int]) -> tuple[list[int], int]:
    """Straight cursor transliteration of one-generation greedy BPE apply:
    the sequential loop the vectorized numpy parity rule must equal."""
    ids, n_merged, pos = [], 0, 0
    while pos < len(s):
        pair = s[pos : pos + 2]
        if len(pair) == 2 and pair in merges:
            ids.append(merges[pair])
            n_merged += 1
            pos += 2
        else:
            ids.append(1000 + ord(s[pos]))
            pos += 1
    return ids, n_merged


def test_tokenize_ids_matches_sequential_greedy(spark, sf_dir):
    """The vectorized greedy-start rule (run-parity) must reproduce the
    sequential left-to-right scan on every corpus document, id for id."""
    merges = dict(T._bpe_merge_table(spark, sf_dir))
    merge_ranks = {p: r for p, r in merges.items()}
    rows = T.corpus_tokenize_ids(spark, sf_dir).collect()
    docs = {
        r["doc_id"]: r["nt"]
        for r in T._docs(spark, sf_dir)
        .select(
            "doc_id",
            F.regexp_replace(
                F.trim(F.lower(F.col("text"))), r"\s+", " "
            ).alias("nt"),
        )
        .collect()
    }
    assert len(rows) == len(docs) > 0
    for r in rows:
        want_ids, want_merged = _greedy_reference(docs[r["doc_id"]], merge_ranks)
        got = [int(x) for x in r["ids_csv"].split("-")] if r["ids_csv"] else []
        assert got == want_ids, r["doc_id"]
        assert r["n_merged"] == want_merged
        assert r["n_ids"] == len(want_ids)
        # reconstruction invariant: merges consume exactly 2 chars each
        assert r["n_ids"] + r["n_merged"] == r["n_chars"]


def test_tokenize_ids_edge_strings(spark):
    """Adversarial shapes for the parity rule: overlapping merge chains
    (odd/even runs), empty string, single char, merge at string end."""
    import numpy as np
    import pandas as pd

    merges = {"aa": 1, "ab": 2, "ba": 3}
    for s in ["", "a", "aa", "aaa", "aaaa", "aaaaa", "abab", "aabab",
              "xabay", "bab", "abba", "x"]:
        want_ids, want_merged = _greedy_reference(s, merges)
        # drive the same numpy kernel the pudf runs, via a tiny local table
        got = _run_tokenize_kernel(s, merges)
        assert got[0] == want_ids, s
        assert got[1] == want_merged, s


def _run_tokenize_kernel(s: str, merges: dict[str, int]) -> tuple[list[int], int]:
    """Re-run the exact vectorized kernel from corpus_tokenize_ids on one
    string (kept in sync by construction: same ops, same order)."""
    import numpy as np

    mkeys = np.array(
        sorted((ord(p[0]) << 21) | ord(p[1]) for p in merges), dtype=np.int64
    )
    rank_of = {(ord(p[0]) << 21) | ord(p[1]): r for p, r in merges.items()}
    mranks = np.array([rank_of[k] for k in mkeys.tolist()], dtype=np.int64)
    codes = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    n = len(codes)
    if n == 0:
        return [], 0
    pk = (codes[:-1] << 21) | codes[1:]
    if len(mkeys):
        ix = np.clip(np.searchsorted(mkeys, pk), 0, len(mkeys) - 1)
        m = mkeys[ix] == pk
        rank_pos = mranks[ix]
    else:
        m = np.zeros(n - 1, dtype=bool)
        rank_pos = np.zeros(n - 1, dtype=np.int64)
    pos = np.arange(n - 1, dtype=np.int64)
    zpos = np.where(m, np.int64(-1), pos)
    lz = np.concatenate(([np.int64(-1)], np.maximum.accumulate(zpos)[:-1]))
    start = m & (((pos - lz - 1) % 2) == 0)
    start_full = np.concatenate((start, [False]))
    consumed = np.concatenate(([False], start))
    keep = start_full | ~consumed
    ids = np.where(
        start_full,
        np.concatenate((rank_pos, [np.int64(0)])),
        1000 + codes,
    )[keep]
    return ids.tolist(), int(start.sum())


def test_bpe_train_wrapped_replace_is_greedy(spark):
    """The wrapped-string replace encoding must implement greedy
    left-to-right non-overlapping merging IDENTICALLY in Spark and DuckDB,
    including overlap chains ('aaaa' -> [aa][aa], 'aaa' -> [aa][a]) and
    multi-char symbols from earlier generations."""
    import duckdb

    SEP = "\x1f"

    def wrap(syms):
        return "".join(SEP + s + SEP for s in syms)

    def greedy(syms, l, r):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                out.append(l + r)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    cases = [
        (["a", "a", "a"], "a", "a"),
        (["a", "a", "a", "a"], "a", "a"),
        (["a", "a", "a", "a", "a"], "a", "a"),
        (["b", "a", "a", "b"], "a", "a"),
        (["a", "b", "a", "b", "a"], "a", "b"),
        (["ab", "c", "ab", "c"], "ab", "c"),     # multi-char symbols
        (["a", "bc", "a", "bc"], "a", "bc"),
        (["b", "a", "ab"], "a", "ab"),           # boundary: must not match 'ba|ab'
        ([], "a", "a"),
        (["x"], "a", "a"),
    ]
    con = duckdb.connect()
    for syms, l, r in cases:
        want = wrap(greedy(syms, l, r))
        pat, rep = SEP + l + SEP + SEP + r + SEP, SEP + l + r + SEP
        got_duck = con.execute(
            "SELECT replace(?, ?, ?)", [wrap(syms), pat, rep]
        ).fetchone()[0]
        got_spark = spark.createDataFrame(
            [(wrap(syms), pat, rep)], "st string, p string, q string"
        ).selectExpr("replace(st, p, q) AS st").first()["st"]
        assert got_duck == want, (syms, l, r)
        assert got_spark == want, (syms, l, r)


def test_bpe_train_generations_invariants(spark, sf_dir):
    """Trainer output sanity: merges never exceed pair occurrences, the
    symbol total strictly decreases by exactly n_merges each generation,
    and generation g's merged pair is a top-1 of its OWN segmentation."""
    rows = T.corpus_bpe_train(spark, sf_dir).collect()
    assert [r["generation"] for r in rows] == list(
        range(1, T.BPE_TRAIN_GENERATIONS + 1)
    )
    prev_total = None
    for r in rows:
        assert 0 < r["n_merges"] <= r["n_pair_occurrences"]
        if prev_total is not None:
            assert r["total_symbols_after"] == prev_total - r["n_merges"]
        prev_total = r["total_symbols_after"]


def test_embedding_near_dup_null_label_gives_null(spark, sf_dir, tmp_path):
    """same_label is SQL equality, like the oracle's `a.label = b.label`:
    a pair with a NULL label gets a NULL same_label, not False."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    emb = pq.read_table(f"{sf_dir}/embeddings.parquet")
    null_vec = S.dedup_embedding_cosine(spark, sf_dir).first()["vec_a"]
    ids = emb.column("vec_id").to_pylist()
    labels = [
        None if v == null_vec else lab
        for v, lab in zip(ids, emb.column("label").to_pylist())
    ]
    field = emb.schema.field("label")
    pq.write_table(
        emb.set_column(
            emb.schema.get_field_index("label"), field,
            pa.array(labels, field.type),
        ),
        tmp_path / "embeddings.parquet",
    )
    label = dict(zip(ids, labels))
    rows = S.dedup_embedding_cosine(spark, str(tmp_path)).collect()
    assert any(null_vec in (r["vec_a"], r["vec_b"]) for r in rows)
    for r in rows:
        la, lb = label[r["vec_a"]], label[r["vec_b"]]
        assert r["same_label"] == (None if None in (la, lb) else la == lb)
