"""SentencePiece-style unigram-LM tokenizer (operators/unigram.py).

Verified four ways: a pure-Python Viterbi reference (exact piece table,
costs, and chosen segmentations), brute-force optimality (the emitted
segmentation's cost equals the min over ALL enumerable segmentations),
the generated chained-CTE DuckDB twin on real test data, and partition
invariance (the DP is an exact argmin — the physical layout cannot change
the answer)."""

from __future__ import annotations

import math
from collections import Counter
from itertools import product

import duckdb
import pytest

from carrot_transform_spark.operators.unigram import (
    piece_vocab,
    unigram_encode_docs,
    unigram_sql,
    viterbi_segment,
    word_counts,
)

US = "\x1f"


def _py_pieces(words: dict[str, int], max_piece: int, min_count: int):
    freq: Counter = Counter()
    for w, c in words.items():
        for i in range(len(w)):
            for l in range(1, min(max_piece, len(w) - i) + 1):
                freq[w[i : i + l]] += c
    kept = {p: f for p, f in freq.items() if len(p) == 1 or f >= min_count}
    tot = sum(kept.values())
    return {
        p: (f, int(math.floor(-math.log(f / tot) * 1e6 + 0.5)))
        for p, f in kept.items()
    }


def _py_viterbi(word: str, pieces: dict, max_piece: int):
    # DP state: (cost, seg-string), minimized lexicographically
    best = {0: (0, "")}
    for pos in range(1, len(word) + 1):
        cands = []
        for plen in range(1, min(max_piece, pos) + 1):
            j = pos - plen
            piece = word[j:pos]
            if piece in pieces and j in best:
                c, s = best[j]
                seg = piece if s == "" else s + US + piece
                cands.append((c + pieces[piece][1], seg))
        best[pos] = min(cands)
    return best[len(word)]


def _corpus(spark):
    rows = [
        (0, "interact internal internet interval winter winter winter"),
        (1, "internal art net nation station elation"),
        (2, "winter interact art art art nation intern"),
        (3, "qz art winter internet"),  # qz: rare chars, fallback path
    ]
    return spark.createDataFrame(rows, "doc_id long, text string"), rows


def test_matches_python_reference(spark):
    df, rows = _corpus(spark)
    P, MC = 4, 3
    words: Counter = Counter(w for _, t in rows for w in t.split())
    want_pieces = _py_pieces(dict(words), P, MC)
    res = unigram_encode_docs(df, max_piece=P, min_count=MC).collect()
    got_pieces = {r["a"]: (r["k"], r["n"]) for r in res if r["kind"] == "piece"}
    assert got_pieces == want_pieces
    got_segs = {r["a"]: (r["n"], r["b"], r["k"]) for r in res if r["kind"] == "seg"}
    assert set(got_segs) == set(words)
    for w in words:
        cost, seg = _py_viterbi(w, want_pieces, P)
        assert got_segs[w] == (cost, seg, len(seg.split(US))), w


def test_bruteforce_optimality(spark):
    """The emitted cost equals the brute-force minimum over every possible
    segmentation into vocab pieces."""
    df, rows = _corpus(spark)
    P, MC = 4, 3
    words = Counter(w for _, t in rows for w in t.split())
    pieces = _py_pieces(dict(words), P, MC)
    res = unigram_encode_docs(df, max_piece=P, min_count=MC).collect()
    got = {r["a"]: r["n"] for r in res if r["kind"] == "seg"}

    def all_costs(w):
        if not w:
            return [0]
        out = []
        for l in range(1, min(P, len(w)) + 1):
            if w[:l] in pieces:
                out.extend(pieces[w[:l]][1] + c for c in all_costs(w[l:]))
        return out

    for w in words:
        assert got[w] == min(all_costs(w)), w


def test_single_char_fallback(spark):
    """Words made of corpus-unique characters still segment (single chars
    always survive induction, as SentencePiece keeps required chars)."""
    df, _ = _corpus(spark)
    res = unigram_encode_docs(df, min_count=3).collect()
    segs = {r["a"]: r["b"] for r in res if r["kind"] == "seg"}
    assert segs["qz"] == "q" + US + "z"


def test_partition_invariance(spark):
    df, _ = _corpus(spark)
    a = sorted(
        map(tuple, unigram_encode_docs(df.repartition(1), min_count=3).collect())
    )
    b = sorted(
        map(tuple, unigram_encode_docs(df.repartition(7), min_count=3).collect())
    )
    assert a == b


def test_sql_twin_matches_spark(spark):
    sf_dir = "/root/testdata/sf0.001"
    from carrot_transform_spark.queries import load

    d = load(spark, sf_dir, "documents")
    got = sorted(
        (r["kind"], r["a"], r["k"], r["n"], r["b"])
        for r in unigram_encode_docs(d).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    want = sorted(
        (k, a, int(kk), int(n), b)
        for k, a, kk, n, b in con.execute(unigram_sql()).fetchall()
    )
    assert got == want


def test_long_words_excluded(spark):
    df = spark.createDataFrame(
        [(0, "short " + "x" * 40)], "doc_id long, text string"
    )
    wc = word_counts(df, max_word=12)
    assert {r["word"] for r in wc.collect()} == {"short"}


def test_save_load_encode_roundtrip(spark, tmp_path):
    """Train -> save -> load -> encode: encoding the training corpus with
    the loaded artifact reproduces the training-time segmentations
    (ids map to the same pieces), and OOV characters get UNK_ID."""
    from carrot_transform_spark.operators.unigram import (
        UNK_ID,
        load_unigram,
        save_unigram,
        unigram_encode,
    )

    df, rows = _corpus(spark)
    wc = word_counts(df, max_word=12)
    pv = piece_vocab(wc, max_piece=4, min_count=3)
    save_unigram(str(tmp_path / "tok"), pv)
    table = load_unigram(spark, str(tmp_path / "tok"))
    assert len(table) == pv.count()

    # training segmentations, decoded from the encoded ids
    segs = {
        r["word"]: r["seg"].split(US)
        for r in viterbi_segment(wc, pv, 12, 4).collect()
    }
    by_id = {i: p for p, (i, _) in table.items()}
    enc = unigram_encode(df, table)
    got = {r["doc_id"]: [by_id[i] for i in r["ids"]] for r in enc.collect()}
    for doc_id, text in rows:
        want = [p for w in text.split() for p in segs[w]]
        assert got[doc_id] == want, doc_id

    # OOV: characters absent from the vocabulary encode as UNK_ID
    new = spark.createDataFrame([(9, "art ZZ")], "doc_id long, text string")
    (row,) = unigram_encode(new, table).collect()
    assert row["ids"][-2:] == [UNK_ID, UNK_ID]
    assert all(i != UNK_ID for i in row["ids"][:-2])


def _live_caches(spark) -> int:
    """Persistent RDDs other than local checkpoints: the DP's per-round
    checkpoints are the returned frame's own leaves, not caches a call
    leaves behind."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs().values()
    return sum(1 for r in rdds if not r.rdd().isLocallyCheckpointed())


def test_segment_without_registry_leaves_no_cache(spark):
    words = {"inter": 2, "winter": 3, "net": 1, "art": 2}
    pieces = _py_pieces(words, 3, 2)
    wc = spark.createDataFrame(list(words.items()), "word string, cnt long")
    pv = spark.createDataFrame(
        [(p, f, c) for p, (f, c) in pieces.items()], "piece string, freq long, cost long"
    )
    before = _live_caches(spark)
    seg = viterbi_segment(wc, pv, max_word=6, max_piece=3)
    assert _live_caches(spark) == before
    got = {r["word"]: (r["cost"], r["seg"], r["n_tokens"]) for r in seg.collect()}
    want = {}
    for w in words:
        cost, s = _py_viterbi(w, pieces, 3)
        want[w] = (cost, s, len(s.split(US)))
    assert got == want
