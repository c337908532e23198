"""pipe_ops_suite — the training-data-pipeline operator bundle, one driver
CORRECTNESS entry with oracle-checked sub-checks (34 as of round 15),
including:

- txt_bm25_topk: BM25 ranked retrieval (operators/bm25.py, Robertson &
  Zaragoza 2009) — the retrieval twin of tfidf for decontamination
  audits; inverted-index postings join, max_df skew cutoff, top-k per
  query over qid partitions.
- sim_hybrid_rrf / sim_retrieval_eval: hybrid lexical+dense retrieval via
  Reciprocal Rank Fusion (operators/hybrid.py, Cormack, Clarke &
  Buettcher 2009) over the BM25 + cosine legs, plus cutoff-k retrieval
  metrics (hits@k, exact reciprocal-rank sums) under self-retrieval
  qrels — fusion and eval consume only the legs' top-k outputs.

- txt_unigram_encode: SentencePiece-style unigram-LM tokenizer
  (operators/unigram.py, arXiv:1804.10959) — piece induction + per-word
  Viterbi DP in integer costs, every round re-run by the DuckDB twin.

- txt_logreg_quality: fastText-style trained quality classifier
  (operators/logreg.py, arXiv:1607.01759) — full-batch GD over hashed
  presence features, every round re-run by the chained-CTE DuckDB twin.

- ds_dsir_select: DSIR importance resampling (operators/dsir.py,
  arXiv:2302.03169) — hashed-n-gram log importance weights against a
  target sub-corpus, deterministic Gumbel top-k selection.
- sketch_kll_quantiles: mergeable KLL quantile sketch (operators/kll.py)
  — exact anchors value-hashed, estimate ranks flag-pinned within eps.

- txt_bpe_train: distributed BPE merge-training (operators/bpe.py) —
  merge sequence + induced vocab + per-word token-id encodings, with a
  generated chained-CTE DuckDB twin re-running every training round.
- txt_bigram_nll: CCNet-style bigram-LM perplexity scoring
  (operators/ngram_lm.py) — add-alpha smoothed, self-trained, per-doc
  average negative log likelihood.

- ds_stratified_sample: deterministic language-stratified corpus rebalance
  (queries/sampling.py; operators/sampling.stratified_sample).
- txt_chunk_windows: token-window document chunking with overlap
  (operators/chunking.chunk_token_windows) — the pre-embedding/packing
  slice step; integer window math reproduced exactly in DuckDB.
- dd_decontaminate: benchmark decontamination — corpus docs sharing >= 2
  distinct 3-gram shingles with the held-out "benchmark" subset
  (doc_id % 97 == 0 stands in for a real benchmark table); equi-join on the
  shingle string, benchmark side broadcastable at scale.
- dd_cc_groups: connected components over the n-gram near-dup pairs
  (Jaccard >= 0.8), turning pairwise matches into canonical dup groups.
  Spark runs min-label propagation to a fixpoint; the DuckDB oracle
  re-derives components with a recursive-CTE transitive closure.
- dd_cc_star_groups: the same components via alternating large-star/
  small-star contraction (O(log n) rounds on any diameter), checked
  against the identical recursive-CTE oracle.

The reference engine has none of these (its joins are the person/term
lookups); they're the beyond-parity operators a 100 TB training pipeline
needs, per the project brief.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from carrot_transform_spark.operators.bpe import (
    bpe_train_docs,
    bpe_train_sql,
    bpe_vocab,
    encode_words,
)
from carrot_transform_spark.operators.dsir import dsir_sql
from carrot_transform_spark.operators.logreg import logreg_sql
from carrot_transform_spark.operators.unigram import unigram_sql
from carrot_transform_spark.operators.wordpiece import wordpiece_sql
from carrot_transform_spark.operators.editjoin import edit_join_words_sql
from carrot_transform_spark.operators.ngram_lm import bigram_nll_sql, kn3_nll_sql, kn_nll_sql
from carrot_transform_spark.operators.chunking import (
    chunk_token_windows,
    chunk_token_windows_sql,
    pack_chunks,
    pack_chunks_sql,
)
from carrot_transform_spark.operators.repetition import (
    repetition_profile_sql,
    span_dup_profile_sql,
)
from carrot_transform_spark.functions.rounding import fround, fround_sql
from carrot_transform_spark.queries import load, register_suite
from carrot_transform_spark.queries.dedup import (
    _SHINGLES_SQL,
    _exploded_shingles,
    ngram_sql,
    shingles_sql,
)
from carrot_transform_spark.queries.sampling import DS_STRATIFIED_SQL, ds_stratified_sample

_CHUNK_SIZE, _CHUNK_OVERLAP = 32, 8
_BENCH_MOD = 97  # doc_id % 97 == 0 -> the pseudo-benchmark subset
_MIN_HITS = 2
# Scale cap for the suite's HEAVY sub-checks (cc fixpoints + recursive-CTE
# closures, shingle self-joins, 12-round GD, corpus explodes): a fixed
# doc-id slice that is a NO-OP at the driver's sf0.01 gate (500 docs), so
# gate-scale strictness is literally unchanged, while sf>=0.1 sweeps stay
# bounded (VERDICT r13 task 5: sf1 full sweep was 1,400 s with these
# unbounded; full-scale operator behavior is stressed separately by
# scripts/*_stress.py linearity legs, not by the oracle twin).
_HEAVY_SLICE = 2000


def txt_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return (
        chunk_token_windows(d, "doc_id", "text", size=_CHUNK_SIZE, overlap=_CHUNK_OVERLAP)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "chunk_idx")
    )


_CHUNK_SQL = (
    chunk_token_windows_sql(
        "documents", "doc_id", "text", size=_CHUNK_SIZE, overlap=_CHUNK_OVERLAP
    ).replace("SELECT id, chunk_idx,", "SELECT id AS doc_id, chunk_idx,")
    + " ORDER BY doc_id, chunk_idx"
)


_PACK_BUDGET = 64


def txt_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing over the chunk stream: per-doc contiguous bins of
    ~64 tokens via a windowed cumulative sum (no global ordering)."""
    d = load(spark, sf_dir, "documents")
    chunks = chunk_token_windows(d, "doc_id", "text", size=_CHUNK_SIZE, overlap=_CHUNK_OVERLAP)
    return (
        pack_chunks(chunks, id_col="id", budget=_PACK_BUDGET)
        .select(
            F.col("id").alias("doc_id"), "chunk_idx", "n_tokens", "bin_idx", "bin_offset"
        )
        .orderBy("doc_id", "chunk_idx")
    )


_PACK_SQL = (
    pack_chunks_sql(
        chunk_token_windows_sql(
            "documents", "doc_id", "text", size=_CHUNK_SIZE, overlap=_CHUNK_OVERLAP
        ),
        id_expr="id",
        budget=_PACK_BUDGET,
    ).replace("SELECT *,", "SELECT id AS doc_id, chunk_idx, n_tokens,", 1)
    + " ORDER BY doc_id, chunk_idx"
)


def dd_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from carrot_transform_spark.operators.dedup import decontaminate

    e = _exploded_shingles(spark, sf_dir, persist=True, max_doc_id=_HEAVY_SLICE)
    e.count()  # materialize once; corpus and benchmark branches both read it
    idx = e.select(F.col("doc_id").alias("id"), "n", "s")
    corpus = idx.filter(F.col("id") % _BENCH_MOD != 0)
    bench = idx.filter(F.col("id") % _BENCH_MOD == 0)
    return decontaminate(corpus, bench, min_hits=_MIN_HITS).orderBy("doc_id")


_DECON_SQL = f"""
    WITH sh AS ({shingles_sql(f"doc_id < {_HEAVY_SLICE}")}),
    e AS (SELECT doc_id, unnest(shingles) AS s FROM sh)
    SELECT c.doc_id, COUNT(DISTINCT c.s) AS n_hits,
           COUNT(DISTINCT b.doc_id) AS n_bench_docs
    FROM e c JOIN e b ON c.s = b.s
         AND b.doc_id % {_BENCH_MOD} = 0 AND c.doc_id % {_BENCH_MOD} <> 0
    GROUP BY c.doc_id HAVING COUNT(DISTINCT c.s) >= {_MIN_HITS}
    ORDER BY c.doc_id
    """


def dd_cc_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from carrot_transform_spark.operators.dedup import connected_components
    from carrot_transform_spark.queries.dedup import dd_ngram_jaccard_pairs

    pairs = dd_ngram_jaccard_pairs(spark, sf_dir, max_doc_id=_HEAVY_SLICE)
    return (
        connected_components(pairs, id_a="doc_a", id_b="doc_b")
        .select(F.col("id").alias("doc_id"), "component_id")
        .orderBy("doc_id")
    )


_CC_SQL = f"""
    WITH RECURSIVE p AS ({ngram_sql(f"doc_id < {_HEAVY_SLICE}")}),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM p
        UNION SELECT doc_b, doc_a FROM p
    ),
    reach(a, b) AS (
        SELECT a, a FROM (SELECT DISTINCT a FROM edges) nodes
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    )
    SELECT a AS doc_id, MIN(b) AS component_id
    FROM reach GROUP BY a ORDER BY doc_id
    """


def dd_cc_star_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same components as dd_cc_groups, computed by the alternating
    large-star/small-star contraction (O(log n) rounds on any graph shape —
    the variant to use when the dup graph's diameter isn't known to be
    tiny). Oracle: the identical recursive-CTE closure, so the two CC
    implementations are pinned equal through DuckDB."""
    from carrot_transform_spark.operators.dedup import connected_components_star
    from carrot_transform_spark.queries.dedup import dd_ngram_jaccard_pairs

    pairs = dd_ngram_jaccard_pairs(spark, sf_dir, max_doc_id=_HEAVY_SLICE)
    return (
        connected_components_star(pairs, id_a="doc_a", id_b="doc_b")
        .select(F.col("id").alias("doc_id"), "component_id")
        .orderBy("doc_id")
    )


_CMS_W, _CMS_D, _CMS_K = 2048, 4, 20


def txt_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters (operators/freqitems.py): the top-K
    corpus words with their exact counts AND the CMS estimates. The sketch
    is deterministic md5-derived integer arithmetic, so the DuckDB oracle
    rebuilds the identical depth x width cell grid and min-estimates —
    the approximate path is value-hash-checked exactly, not just bounded."""
    from carrot_transform_spark.operators.freqitems import cms_build, cms_estimate
    from carrot_transform_spark.queries import qpersist

    d = load(spark, sf_dir, "documents")
    words = qpersist(
        d.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("w")).filter(
            F.col("w") != ""
        )
    )
    exact = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.desc("exact_n"), F.asc("w"))
        .limit(_CMS_K)
    )
    cms = cms_build(words, "w", width=_CMS_W, depth=_CMS_D)
    est = cms_estimate(cms, exact, "w", width=_CMS_W, depth=_CMS_D)
    return (
        exact.join(est, "w")
        .select(F.col("w").alias("word"), "exact_n", "cms_est")
        .orderBy(F.desc("exact_n"), "word")
    )


def _cms_sql() -> str:
    from carrot_transform_spark.operators.freqitems import cms_cells_sql, cms_probes_sql

    words = (
        "SELECT w FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w "
        "FROM documents) t WHERE w <> ''"
    )
    cells = cms_cells_sql(words, width=_CMS_W, depth=_CMS_D)
    topk = (
        f"SELECT w, COUNT(*) AS exact_n FROM ({words}) ws "
        f"GROUP BY w ORDER BY exact_n DESC, w LIMIT {_CMS_K}"
    )
    probes = cms_probes_sql("SELECT w FROM topk", width=_CMS_W, depth=_CMS_D)
    return f"""
    WITH cells AS ({cells}),
    topk AS ({topk}),
    est AS (
        SELECT w, MIN(COALESCE(cnt, 0)) AS cms_est
        FROM ({probes}) p LEFT JOIN cells USING (j, bucket)
        GROUP BY w
    )
    SELECT topk.w AS word, exact_n, cms_est
    FROM topk JOIN est ON topk.w = est.w
    ORDER BY exact_n DESC, word
    """


def txt_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FineWeb/Gopher-style quality filter chain (operators/quality.py):
    every doc scored against the length / stopword / alnum / repetition
    rules in one scan + one profile join, with per-rule reject attribution
    (reject_reasons CSV) and the keep flag. filter(keep=1) IS the cleaned
    corpus; groupBy(reject_reasons) is the drop-rate dashboard."""
    from carrot_transform_spark.operators.quality import quality_filter_chain

    d = load(spark, sf_dir, "documents")
    return quality_filter_chain(d, max_tokens=_QF_MAX_TOKENS).orderBy("doc")


_QF_MAX_TOKENS = 90  # the synthetic corpus tops out at ~100 tokens — a 400
# cap would never fire; 90 exercises the too_long path on real rows


def _quality_filter_sql() -> str:
    from carrot_transform_spark.operators.quality import quality_filter_chain_sql

    return (
        quality_filter_chain_sql("documents", "doc_id", "text", max_tokens=_QF_MAX_TOKENS)
        + " ORDER BY doc"
    )


def txt_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style per-doc repetition metrics (dup-word / top-word /
    top-bigram fractions) — the quality filters a pretraining pipeline
    applies before dedup."""
    from carrot_transform_spark.operators.repetition import repetition_profile

    d = load(spark, sf_dir, "documents")
    return repetition_profile(d).orderBy("doc")


def dd_span_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-doc duplicated-span fractions — the shingle-window
    approximation of exact substring dedup."""
    from carrot_transform_spark.operators.repetition import span_dup_profile

    d = load(spark, sf_dir, "documents")
    return span_dup_profile(d, span=_SPAN, stride=_STRIDE).orderBy("doc")


_SPAN = 8
_STRIDE = 4

_SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}


def ds_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by hash bucket
    (operators/sampling.hash_split) — partitioning- and scale-independent."""
    from carrot_transform_spark.operators.sampling import hash_split

    d = load(spark, sf_dir, "documents").select("doc_id")
    return hash_split(d, "doc_id", _SPLITS).orderBy("doc_id")


def _hash_split_sql() -> str:
    from carrot_transform_spark.operators.sampling import hash_split_sql

    return (
        f"SELECT doc_id, {hash_split_sql('doc_id', _SPLITS)} AS split "
        f"FROM documents ORDER BY doc_id"
    )


def ds_curriculum_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-curriculum sampling (operators/sampling.curriculum_sample):
    docs bucketed into score quartiles (integer quality score = stopword
    density + length) via the score HISTOGRAM — no global NTILE sort — then
    kept at per-bucket rates (best bucket keeps all) by the deterministic
    md5 rule. The downsample-low-quality / keep-high-quality mix step of a
    pretraining data pipeline."""
    from carrot_transform_spark.operators.sampling import curriculum_sample
    from carrot_transform_spark.operators.text import occurrences

    d = load(spark, sf_dir, "documents")
    txt = F.trim("text")
    padded = F.concat(F.lit(" "), txt, F.lit(" "))
    sig = d.select(
        "doc_id",
        (occurrences(padded, " the ") * 100 + F.size(F.split(txt, r"\s+"))).alias(
            "score"
        ),
    )
    return (
        curriculum_sample(sig, "score", "doc_id")
        .select("doc_id", "score", "bucket", "sampled")
        .orderBy("doc_id")
    )


def _curriculum_sql() -> str:
    from carrot_transform_spark.operators.sampling import curriculum_sample_sql

    stop = (
        "CAST((LENGTH(' ' || trim(text) || ' ') - "
        "LENGTH(REPLACE(' ' || trim(text) || ' ', ' the ', ''))) / 5 AS INTEGER)"
    )
    sig = (
        f"SELECT doc_id, {stop} * 100 + "
        "len(regexp_split_to_array(trim(text), '\\s+')) AS score FROM documents"
    )
    inner = curriculum_sample_sql(sig, "score", "doc_id")
    return (
        f"SELECT doc_id, score, bucket, sampled FROM ({inner}) c ORDER BY doc_id"
    )


_EXACT_N = 137


def ds_sample_exact_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic exact-N sampling (operators/sampling.sample_exact_n):
    the n smallest md5 ranks win — a distributed partial top-N
    (TakeOrderedAndProject), no global sort, prefix-stable as n grows. The
    exact-count counterpart of the fraction samplers."""
    from carrot_transform_spark.operators.sampling import sample_exact_n

    d = load(spark, sf_dir, "documents").select("doc_id", "lang")
    return sample_exact_n(d, "doc_id", _EXACT_N).orderBy("doc_id")


def _sample_exact_n_sql() -> str:
    from carrot_transform_spark.operators.sampling import sample_exact_n_sql

    inner = sample_exact_n_sql("SELECT doc_id, lang FROM documents", "doc_id", _EXACT_N)
    return f"SELECT doc_id, lang FROM ({inner}) _e ORDER BY doc_id"


def ds_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row weighted Bernoulli sampling (operators/sampling.weighted_sample):
    keep probability proportional to an integer weight (here: token count),
    threshold computed with exact integer division so the subset is
    bit-identical in any engine. The continuous counterpart of
    ds_curriculum_sample's quantile buckets."""
    from carrot_transform_spark.operators.sampling import weighted_sample

    d = load(spark, sf_dir, "documents")
    sig = d.select(
        "doc_id", F.size(F.split(F.trim("text"), r"\s+")).alias("weight")
    )
    return (
        weighted_sample(sig, "weight", "doc_id")
        .select("doc_id", "weight", "sampled")
        .orderBy("doc_id")
    )


def _weighted_sample_sql() -> str:
    from carrot_transform_spark.operators.sampling import weighted_sample_sql

    inner = (
        "SELECT doc_id, len(regexp_split_to_array(trim(text), '\\s+')) AS weight "
        "FROM documents"
    )
    return (
        f"SELECT doc_id, weight, sampled FROM ({weighted_sample_sql(inner)}) w "
        "ORDER BY doc_id"
    )


_Z_BITS = 8


def ds_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton/Z-order clustering keys (operators/layout.zorder_key): the
    bit-interleaved key that zorder_repartition range-partitions on so
    parquet min/max stats skip files for predicates on EITHER dimension.
    Pure integer bit math — the oracle recomputes every key exactly."""
    from carrot_transform_spark.operators.layout import zorder_key

    d = load(spark, sf_dir, "documents")
    sig = d.select(
        "doc_id",
        F.pmod("doc_id", F.lit(256)).alias("x"),
        F.pmod(F.size(F.split(F.trim("text"), r"\s+")) * 7, F.lit(256)).alias("y"),
    )
    return (
        sig.withColumn("z", zorder_key(["x", "y"], bits=_Z_BITS))
        .orderBy("doc_id")
    )


def _zorder_sql() -> str:
    from carrot_transform_spark.operators.layout import zorder_key_sql

    z = zorder_key_sql(["x", "y"], bits=_Z_BITS)
    return f"""
    WITH sig AS (
        SELECT doc_id, doc_id % 256 AS x,
               (len(regexp_split_to_array(trim(text), '\\s+')) * 7) % 256 AS y
        FROM documents
    )
    SELECT doc_id, x, y, {z} AS z FROM sig ORDER BY doc_id
    """


_CAP_N = 40


def ds_cap_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group cap (operators/sampling.cap_per_group): keep at most N
    docs per language, chosen by the deterministic md5 rank — the
    "at most N documents per domain" curation step."""
    from carrot_transform_spark.operators.sampling import cap_per_group

    d = load(spark, sf_dir, "documents").select("doc_id", "lang")
    return cap_per_group(d, "lang", "doc_id", cap=_CAP_N).orderBy("doc_id")


def _cap_sql() -> str:
    from carrot_transform_spark.operators.sampling import cap_per_group_sql

    inner = cap_per_group_sql(
        "SELECT doc_id, lang FROM documents", "lang", "doc_id", cap=_CAP_N
    )
    return f"SELECT doc_id, lang, kept FROM ({inner}) c ORDER BY doc_id"


_SKEW_K = 15


def diag_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostics (operators/diagnostics.skew_profile): the
    top heavy keys of orders.o_custkey with exact ppm share and the
    integer salting hint that feeds salted_join(n_salts=...) — the
    measure-before-salting step of skew management at scale."""
    from carrot_transform_spark.operators.diagnostics import skew_profile

    o = load(spark, sf_dir, "orders")
    return skew_profile(o, "o_custkey", top_k=_SKEW_K).withColumnRenamed(
        "key", "custkey"
    )


def _skew_sql() -> str:
    from carrot_transform_spark.operators.diagnostics import skew_profile_sql

    inner = skew_profile_sql("SELECT o_custkey FROM orders", "o_custkey", top_k=_SKEW_K)
    return f"SELECT key AS custkey, n_rows, rank, ppm, salts_hint FROM ({inner}) s"


_BLOOM_BAL = 9000  # build side: the few high-balance customers


def dd_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered exact semi-join (operators/bloom.py): orders whose
    customer sits in the selective high-balance build set. The bitmap prunes
    the probe before any shuffle; the exact join removes false positives, so
    the oracle is the PLAIN semi-join."""
    from carrot_transform_spark.operators.bloom import bloom_semi_join

    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").filter(F.col("c_acctbal") > _BLOOM_BAL)
    return bloom_semi_join(o, c, "o_custkey", "c_custkey").select(
        "o_orderkey", "o_custkey"
    ).orderBy("o_orderkey")


_BLOOM_SQL = f"""
    SELECT o_orderkey, o_custkey FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > {_BLOOM_BAL})
    ORDER BY o_orderkey
    """


_INC_MOD = 5  # doc_id % 5 == 0 -> the "new batch"; the rest = the stored index


def dd_incremental_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup maintenance (operators/dedup.py incremental_*):
    docs with doc_id % 5 == 0 play the "new batch" arriving against an LSH
    index built from the other 80% of the corpus. Candidates = batch-vs-index
    bucket collisions + batch-vs-batch; exact Jaccard verify on candidates
    only; the base corpus text is never re-scanned. The oracle is the
    from-scratch full-corpus LSH pair set restricted to pairs with >= 1
    batch member — incremental must equal it exactly."""
    from carrot_transform_spark.operators.dedup import (
        incremental_candidate_pairs,
        jaccard_verify,
        lsh_bands,
        minhash_signatures,
    )

    e = _exploded_shingles(spark, sf_dir, persist=True, max_doc_id=_HEAVY_SLICE)
    e.count()  # base bands, batch bands, and the verify join all read it
    idx = e.select(F.col("doc_id").alias("id"), "n", "s")
    base_bands = lsh_bands(minhash_signatures(idx.filter(F.col("id") % _INC_MOD != 0)))
    batch_bands = lsh_bands(minhash_signatures(idx.filter(F.col("id") % _INC_MOD == 0)))
    cand = incremental_candidate_pairs(batch_bands, base_bands)
    return (
        jaccard_verify(cand, idx, threshold=0.7)
        .select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "jaccard")
        .orderBy("doc_a", "doc_b")
    )


def _incremental_sql() -> str:
    """Full-corpus LSH pairs (same CTE stack as dd_minhash_lsh_pairs' oracle)
    filtered to pairs touching the batch split."""
    from carrot_transform_spark.queries.dedup import _minhash_sig_sql

    return f"""
    WITH sig AS MATERIALIZED ({_minhash_sig_sql(f"doc_id < {_HEAVY_SLICE}")}),
    bands AS (
        SELECT doc_id, 0 AS band, CONCAT(mh0, '_', mh1) AS bkey FROM sig
        UNION ALL SELECT doc_id, 1, CONCAT(mh2, '_', mh3) FROM sig
        UNION ALL SELECT doc_id, 2, CONCAT(mh4, '_', mh5) FROM sig
        UNION ALL SELECT doc_id, 3, CONCAT(mh6, '_', mh7) FROM sig
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
        WHERE a.doc_id % {_INC_MOD} = 0 OR b.doc_id % {_INC_MOD} = 0
    ),
    sh AS ({shingles_sql(f"doc_id < {_HEAVY_SLICE}")}),
    e AS MATERIALIZED (SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n FROM sh),
    verified AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS inter,
               ANY_VALUE(a.n) AS na, ANY_VALUE(b.n) AS nb
        FROM cand c
        JOIN e a ON a.doc_id = c.doc_a
        JOIN e b ON b.doc_id = c.doc_b AND b.s = a.s
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT doc_a, doc_b, {fround_sql("inter * 1.0 / (na + nb - inter)")} AS jaccard
    FROM verified
    WHERE inter * 1.0 / (na + nb - inter) >= 0.7
    ORDER BY doc_a, doc_b
    """


_VOCAB_MIN_FREQ = 2


def txt_vocab_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary induction + token-id encoding (operators/vocab.py): words
    with corpus freq >= 2 ranked (freq desc, word) into dense ids, then each
    doc encoded as its id sequence in token order (OOV -> -1). The ids_csv
    column pins the exact sequence, not just a bag."""
    from carrot_transform_spark.operators.vocab import build_vocab, encode_docs
    from carrot_transform_spark.queries import _QUERY_CACHES

    d = load(spark, sf_dir, "documents")
    # the per-word counts are persisted into the registry's release list, so
    # repeated suite runs don't accumulate caches
    vocab = build_vocab(d, "text", min_freq=_VOCAB_MIN_FREQ, persist_registry=_QUERY_CACHES)
    return (
        encode_docs(d, vocab, "doc_id", "text")
        .select(
            F.col("id").alias("doc_id"),
            "n_tokens",
            "n_unk",
            F.concat_ws(",", F.transform("token_ids", lambda x: x.cast("string"))).alias("ids_csv"),
        )
        .orderBy("doc_id")
    )


_VOCAB_SQL = f"""
    WITH arrs AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS arr FROM documents
    ),
    toks AS (
        SELECT doc_id, word, pos FROM (
            SELECT doc_id, unnest(arr) AS word,
                   unnest(generate_series(1, len(arr))) AS pos
            FROM arrs
        ) z WHERE word <> ''
    ),
    counts AS (
        SELECT word, COUNT(*) AS freq FROM toks GROUP BY word
        HAVING COUNT(*) >= {_VOCAB_MIN_FREQ}
    ),
    vocab AS (
        SELECT word, ROW_NUMBER() OVER (ORDER BY freq DESC, word) AS word_id
        FROM counts
    ),
    mapped AS (
        SELECT t.doc_id, t.pos, COALESCE(v.word_id, -1) AS wid,
               CASE WHEN v.word_id IS NULL THEN 1 ELSE 0 END AS unk
        FROM toks t LEFT JOIN vocab v ON v.word = t.word
    ),
    enc AS (
        SELECT doc_id, COUNT(*) AS n_tokens, SUM(unk) AS n_unk,
               STRING_AGG(CAST(wid AS VARCHAR), ',' ORDER BY pos) AS ids_csv
        FROM mapped GROUP BY doc_id
    )
    -- every doc emits a row: empty/whitespace-only text -> (0, 0, '')
    SELECT d.doc_id, COALESCE(e.n_tokens, 0) AS n_tokens,
           COALESCE(e.n_unk, 0) AS n_unk, COALESCE(e.ids_csv, '') AS ids_csv
    FROM documents d LEFT JOIN enc e ON e.doc_id = d.doc_id
    ORDER BY d.doc_id
    """


_PR_M = 400  # graph nodes: doc_id < 400 (present at every scale factor)
_PR_ITERS = 4


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (operators/pagerank.py) over a synthetic directed graph on
    the document ids: u -> (u*u+1) mod M (quadratic — skewed in-degree) and
    u -> (7u+3) mod M (bijective). 9-decimal rounded iterations make the
    unrolled DuckDB twin reproduce every rank exactly."""
    from carrot_transform_spark.operators.pagerank import pagerank

    d = load(spark, sf_dir, "documents").select("doc_id").filter(F.col("doc_id") < _PR_M)
    edges = d.select(
        F.col("doc_id").alias("src"),
        F.pmod(F.col("doc_id") * F.col("doc_id") + 1, F.lit(_PR_M)).alias("dst"),
    ).unionAll(
        d.select(
            F.col("doc_id").alias("src"),
            F.pmod(F.col("doc_id") * 7 + 3, F.lit(_PR_M)).alias("dst"),
        )
    )
    out = pagerank(edges, iters=_PR_ITERS)
    # rank is 9-decimal-rounded by contract; emit it at 1e-9 integer scale so
    # the checksum compare is exact to the last rounded digit
    return out.select(
        "node", F.floor(F.col("rank") * 1_000_000_000 + F.lit(0.5)).cast("long").alias("rank_e9")
    ).orderBy("node")


def _pagerank_sql() -> str:
    from carrot_transform_spark.operators.pagerank import pagerank_sql

    edges = (
        f"SELECT doc_id AS src, (doc_id * doc_id + 1) % {_PR_M} AS dst "
        f"FROM documents WHERE doc_id < {_PR_M} "
        f"UNION ALL SELECT doc_id, (doc_id * 7 + 3) % {_PR_M} "
        f"FROM documents WHERE doc_id < {_PR_M}"
    )
    inner = pagerank_sql(edges, iters=_PR_ITERS)
    return (
        f"SELECT node, CAST(FLOOR(rank * 1000000000 + 0.5) AS BIGINT) AS rank_e9 "
        f"FROM ({inner}) pr ORDER BY node"
    )


_PROFILE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate", "o_orderpriority"]


def diag_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data-quality profile of the orders table
    (operators/profile.table_profile, exact mode so the oracle matches
    bit-for-bit; production default is the single-pass HLL++ variant)."""
    from carrot_transform_spark.operators.profile import table_profile

    d = load(spark, sf_dir, "orders")
    return table_profile(d, _PROFILE_COLS, exact=True).orderBy("col_name")


def _table_profile_sql() -> str:
    from carrot_transform_spark.operators.profile import table_profile_sql

    return table_profile_sql("orders", _PROFILE_COLS) + ' ORDER BY col_name'


_SCRUB_SPAN, _SCRUB_STRIDE = 8, 4


def txt_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document span REMOVAL (operators/repetition.scrub_cross_doc_spans)
    — the action twin of dd_span_dups' measurement: tokens covered by a
    span appearing in more than one document are cut, and the cleaned text
    itself is pinned by the oracle (exact string, not just counts)."""
    from carrot_transform_spark.operators.repetition import scrub_cross_doc_spans

    d = load(spark, sf_dir, "documents")
    return scrub_cross_doc_spans(
        d, "doc_id", "text", span=_SCRUB_SPAN, stride=_SCRUB_STRIDE
    ).orderBy("doc")


def txt_exact_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT cross-document substring dedup
    (operators/repetition.exact_substring_scrub): maximal duplicate token
    runs >= L removed precisely via the stride-1 overlapping-window merge —
    where txt_span_scrub's strided grid under-scrubs unaligned duplicates
    and over-scrubs short trailing windows. The oracle pins the exact
    cleaned text per document."""
    from carrot_transform_spark.operators.repetition import exact_substring_scrub

    d = load(spark, sf_dir, "documents")
    return exact_substring_scrub(d, "doc_id", "text", min_len=_SCRUB_SPAN).orderBy("doc")


def _exact_scrub_sql() -> str:
    from carrot_transform_spark.operators.repetition import exact_substring_scrub_sql

    return (
        exact_substring_scrub_sql("documents", "doc_id", "text", min_len=_SCRUB_SPAN)
        + " ORDER BY 1"  # "doc" would be ambiguous between t.doc and r.doc
    )


def _span_scrub_sql() -> str:
    from carrot_transform_spark.operators.repetition import scrub_cross_doc_spans_sql

    return scrub_cross_doc_spans_sql(
        "documents", "doc_id", "text", span=_SCRUB_SPAN, stride=_SCRUB_STRIDE
    ) + " ORDER BY 1"


def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the same synthetic graph PageRank
    uses, undirected. The join-chain form: canonical edges (a < b), then
    e1(a,b) ⋈ e2(b,c) ⋈ e3(a,c) with a < b < c finds each triangle once;
    per-node counts via the 3-way unpivot. Every join is an equi-join on a
    node id — at scale this is the standard 2-shuffle triangle count, and
    degree-ordering (here: plain id order) bounds the join fan-out."""
    d = load(spark, sf_dir, "documents").select("doc_id").filter(F.col("doc_id") < _PR_M)
    raw = d.select(
        F.col("doc_id").alias("src"),
        F.pmod(F.col("doc_id") * F.col("doc_id") + 1, F.lit(_PR_M)).alias("dst"),
    ).unionAll(
        d.select(
            F.col("doc_id").alias("src"),
            F.pmod(F.col("doc_id") * 7 + 3, F.lit(_PR_M)).alias("dst"),
        )
    )
    edges = (
        raw.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .distinct()
    )
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    e3 = edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(e3, (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")))
        .select(F.col("e1.a").alias("x"), F.col("e1.b").alias("y"), F.col("e2.b").alias("z"))
    )
    nodes = tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
    return (
        nodes.groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .orderBy("node")
    )


def txt_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity scoring (operators/ngram_lm.py): add-alpha
    bigram LM self-trained on the corpus, per-doc average negative log
    likelihood — the language-model quality ranker next to the rule-based
    txt_quality_filter. The DuckDB twin re-derives counts, smoothing and
    ln arithmetic from the same parquet."""
    from carrot_transform_spark.operators.ngram_lm import bigram_nll_docs

    d = load(spark, sf_dir, "documents")
    return bigram_nll_docs(d).orderBy("doc_id")


def txt_kn_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney perplexity scoring (operators/ngram_lm.py,
    Kneser & Ney 1995 / Chen & Goodman 1999 §2.7): the production-grade
    smoother next to txt_bigram_nll's add-alpha — absolute discounting,
    distinct-continuation interpolation weights, continuation-probability
    backoff. Self-trained on the corpus like its sibling; the DuckDB twin
    re-derives every count and the pinned probability arithmetic."""
    from carrot_transform_spark.operators.ngram_lm import kn_nll_docs

    d = load(spark, sf_dir, "documents")
    return kn_nll_docs(d).orderBy("doc_id")


def txt_kn3_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram interpolated Kneser-Ney scoring (operators/ngram_lm.py):
    the full Chen & Goodman recursion — discounted trigram counts
    interpolating into a type-count bigram KN distribution into the
    add-beta continuation floor. Self-trained like its siblings; the
    DuckDB twin re-derives the whole type-count recursion."""
    from carrot_transform_spark.operators.ngram_lm import kn3_nll_docs

    d = load(spark, sf_dir, "documents")
    return kn3_nll_docs(d).orderBy("doc_id")


_DSIR_TMOD = 7
_DSIR_K = 100


def ds_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (operators/dsir.py, arXiv:2302.03169):
    docs with doc_id % 7 == 0 stand in for the curated target corpus (the
    dd_decontaminate convention); every other doc is scored by the hashed
    unigram+bigram log importance weight and k=100 are drawn by
    deterministic Gumbel top-k. The DuckDB twin re-derives the bucket
    hash, the add-alpha log-ratio, the md5-seeded Gumbel keys and the
    rank tie-breaks from the same parquet."""
    from carrot_transform_spark.operators.dsir import dsir_select_docs

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _HEAVY_SLICE)
    is_target = F.col("doc_id") % _DSIR_TMOD == 0
    from carrot_transform_spark.queries import _QUERY_CACHES

    return dsir_select_docs(
        d, is_target, k=_DSIR_K, persist_registry=_QUERY_CACHES
    ).orderBy("doc_id")


def txt_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SentencePiece-style unigram-LM tokenizer (operators/unigram.py,
    arXiv:1804.10959): piece-vocab induction over the deduped words, then
    per-word Viterbi minimum-cost segmentation as unrolled distributed DP
    in exact BIGINT cost arithmetic. Emits the piece table and every
    distinct word's unique (cost, seg)-minimal segmentation; the DuckDB
    twin re-runs the induction and every DP round as chained CTEs."""
    from carrot_transform_spark.operators.unigram import unigram_encode_docs

    d = load(spark, sf_dir, "documents")
    from carrot_transform_spark.queries import _QUERY_CACHES

    return unigram_encode_docs(d, persist_registry=_QUERY_CACHES).orderBy("kind", "a")


_EDIT_SLICE = 400  # same fixed-slice convention as _BM25_SLICE
_EDIT_K = 2  # the corpus has no typo-level k=1 pairs; k=2 finds neighbours


def dd_edit_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance similarity join (operators/editjoin.py, Gravano et
    al. 2001 / Chaudhuri, Ganti & Kaushik 2006 prefix filtering): every
    distinct-word pair within Levenshtein distance 2 — the string-metric
    member of the dedup/linkage family next to MinHash (sets), SimHash
    (bits) and SemDeDup (embeddings). Lossless q-gram prefix blocking +
    exact levenshtein verify; the DuckDB twin re-derives grams, the
    frequency-ordered prefixes and the distances from the same parquet."""
    from carrot_transform_spark.operators.editjoin import edit_join_words

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _EDIT_SLICE)
    return edit_join_words(d, k=_EDIT_K).orderBy("a", "b")


_EDIT_INC_SLICE = 150  # custkey slice present at every SF


def dd_edit_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One incremental edit-join step (operators/editjoin.py): the store
    holds the even-custkey customer names' hash-ordered prefix index, the
    odd-custkey names arrive as a batch, and the emission is every
    Levenshtein<=1 pair involving a genuinely new name — per-step cost
    O(batch + collisions), the MinHash/SimHash incremental-store
    discipline (FROZEN-rank prefixes never need re-indexing when corpus
    frequencies shift). Customer names are the right corpus: unique
    zero-padded numbers with digit-substitution neighbours."""
    from carrot_transform_spark.operators.editjoin import (
        edit_gram_ranks,
        edit_join_incremental,
        edit_prefix_index,
    )

    c = load(spark, sf_dir, "customer").filter(F.col("c_custkey") < _EDIT_INC_SLICE)
    sw = c.filter(F.col("c_custkey") % 2 == 0).select(F.col("c_name").alias("s"))
    bw = c.filter(F.col("c_custkey") % 2 == 1).select(F.col("c_name").alias("s"))
    ranks = edit_gram_ranks(sw, k=1)
    pairs, _ = edit_join_incremental(
        edit_prefix_index(sw, ranks, k=1), sw, bw, ranks, k=1
    )
    return pairs.orderBy("a", "b")


def _edit_incremental_oracle() -> str:
    from carrot_transform_spark.operators.editjoin import edit_join_incremental_sql

    return (
        edit_join_incremental_sql(
            f"SELECT c_name AS s FROM customer WHERE c_custkey < {_EDIT_INC_SLICE} AND c_custkey % 2 = 0",
            f"SELECT c_name AS s FROM customer WHERE c_custkey < {_EDIT_INC_SLICE} AND c_custkey % 2 = 1",
            k=1,
        )
        + " ORDER BY a, b"
    )


def txt_wordpiece_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece tokenizer (operators/wordpiece.py, Schuster & Nakajima
    2012 / Devlin et al. 2019): frequency-derived initial+continuation
    subword vocab, then greedy longest-match-first encoding of every
    distinct word — unmatchable words become whole-word [UNK]. Pure
    integer/string arithmetic, so the chained-CTE DuckDB twin is exact
    with no quantization fences. The fourth tokenizer family next to
    vocab-ids, BPE and unigram."""
    from carrot_transform_spark.operators.wordpiece import wordpiece_encode_docs
    from carrot_transform_spark.queries import _QUERY_CACHES

    d = load(spark, sf_dir, "documents")
    return wordpiece_encode_docs(d, persist_registry=_QUERY_CACHES).orderBy(
        "kind", "a"
    )


def txt_logreg_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style model-based quality filter (operators/logreg.py,
    arXiv:1607.01759): a logistic-regression classifier over hashed
    unigram+bigram presence features, trained by deterministic full-batch
    GD ("contains the token 'spark'" is the stand-in label — learnable
    from the text, unlike the signal-free synthetic lang column). Emits
    the final weight table and every doc's score; the DuckDB twin re-runs
    every training round as a chained CTE with identical quantisation."""
    from carrot_transform_spark.operators.logreg import logreg_quality_docs

    from carrot_transform_spark.queries import _QUERY_CACHES

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _HEAVY_SLICE)
    return logreg_quality_docs(
        d, F.col("text").contains("spark"), persist_registry=_QUERY_CACHES
    ).orderBy(
        "kind", "id"
    )


_KLL_QS = [0.1, 0.5, 0.9, 0.99]
_KLL_EPS = 0.05  # generous vs the ~1% empirical error at k=200


def sketch_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable KLL quantile sketch (operators/kll.py) over events.value
    per event_type — the sketch-family pattern of sketch_approx_distinct:
    the sketch values aren't SQL-reproducible, so the emission carries the
    EXACT aggregates (row counts, min/max — value-hashed by DuckDB) plus a
    flag pinning each estimate's exact rank within eps of its target
    quantile. A broken sketch flips flags and hash-mismatches."""
    from carrot_transform_spark.operators.kll import (
        kll_quantiles,
        kll_rank_check,
        kll_sketch,
    )

    e = load(spark, sf_dir, "events").select("event_type", "value")
    sk = kll_sketch(e, "value", key_col="event_type")
    est = kll_quantiles(sk, _KLL_QS)
    chk = kll_rank_check(e, "value", est, eps=_KLL_EPS, key_col="event_type")
    ext = e.groupBy(F.col("event_type").alias("key")).agg(
        F.min("value").alias("min_v"), F.max("value").alias("max_v")
    )
    return (
        chk.join(ext, "key")
        .select(
            F.col("key").alias("event_type"),
            "q",
            "n_rows",
            "min_v",
            "max_v",
            F.col("in_bound").cast("int").alias("in_bound"),
        )
        .orderBy("event_type", "q")
    )


_KLL_SQL = f"""
    SELECT event_type, CAST(q AS DOUBLE) AS q, COUNT(*) AS n_rows,
           MIN(value) AS min_v, MAX(value) AS max_v, 1 AS in_bound
    FROM events CROSS JOIN (SELECT unnest({_KLL_QS!r}) AS q) qs
    GROUP BY event_type, q ORDER BY event_type, q
    """


_BPE_MERGES = 10


def txt_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge-training over the documents corpus
    (operators/bpe.py): word-dedup pass, then _BPE_MERGES rounds of
    pair-count -> deterministic argmax -> replace re-segment. Emits the
    merge sequence, the induced (sym, id) vocabulary, and every distinct
    word's final token-id encoding — all hash-matched against the
    generated pure-SQL DuckDB twin (bpe_train_sql)."""
    d = load(spark, sf_dir, "documents")
    merges, words = bpe_train_docs(d, _BPE_MERGES)
    vocab = bpe_vocab(words, merges)
    merge_rows = spark.createDataFrame(
        [("merge", i + 1, a, b, n) for i, (a, b, n) in enumerate(merges)],
        "kind string, k long, a string, b string, n long",
    )
    sym_rows = vocab.select(
        F.lit("sym").alias("kind"),
        F.col("id").alias("k"),
        F.col("sym").alias("a"),
        F.lit("").alias("b"),
        F.lit(0).cast("long").alias("n"),
    )
    word_rows = encode_words(words, vocab).select(
        F.lit("word").alias("kind"),
        F.col("n_tokens").cast("long").alias("k"),
        F.col("word").alias("a"),
        F.col("ids_csv").alias("b"),
        F.col("cnt").cast("long").alias("n"),
    )
    return merge_rows.unionByName(sym_rows).unionByName(word_rows)


_BM25_SLICE = 400  # doc ids present at every SF -> identically sized check
_BM25_QMOD = 97
_BM25_TOPK = 10


def txt_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (operators/bm25.py, Robertson & Zaragoza
    2009) — the retrieval twin of tfidf: inverted-index postings join,
    ratio-form idf in exact DECIMAL(27,6), length-normalised tf, top-k
    per query over qid partitions. Queries are the first-3-token prefixes
    of every 97th document (a decontamination-audit stand-in); corpus is
    a fixed doc-id slice so the check is identically sized at every SF."""
    from carrot_transform_spark.operators.bm25 import bm25_rank

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _BM25_SLICE)
    q = d.filter(F.col("doc_id") % _BM25_QMOD == 3).select(
        F.col("doc_id").alias("qid"),
        F.array_join(F.slice(F.split(F.col("text"), " "), 1, 3), " ").alias(
            "qtext"
        ),
    )
    return bm25_rank(d, q, top_k=_BM25_TOPK).orderBy("qid", "rnk")


def _bm25_oracle() -> str:
    from carrot_transform_spark.operators.bm25 import bm25_sql

    docs = f"(SELECT * FROM documents WHERE doc_id < {_BM25_SLICE}) docs"
    qs = (
        f"(SELECT doc_id AS qid, "
        f"array_to_string((string_split(text, ' '))[1:3], ' ') AS qtext "
        f"FROM documents WHERE doc_id < {_BM25_SLICE} "
        f"AND doc_id % {_BM25_QMOD} = 3) q"
    )
    return (
        bm25_sql(docs, qs, top_k=_BM25_TOPK)
        + " ORDER BY qid, rnk"
    )


# ---- hybrid retrieval: RRF fusion of the BM25 + dense legs -------------
# (operators/hybrid.py, Cormack, Clarke & Buettcher 2009.) Same corpus
# slice / query cadence as txt_bm25_topk so the checks stay identically
# sized at every SF; the dense leg reuses the proven bruteforce-cosine
# arithmetic from queries/similarity.py (raw-cs ranking is bit-identical
# across engines — sim_topk_bruteforce hash-pins it).
_HY_LEG_K = 20  # per-leg depth feeding the fusion
_HY_TOPK = 10  # fused cutoff == the eval k


def _hy_lex(spark: SparkSession, sf_dir: str) -> DataFrame:
    from carrot_transform_spark.operators.bm25 import bm25_rank

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _BM25_SLICE)
    q = d.filter(F.col("doc_id") % _BM25_QMOD == 3).select(
        F.col("doc_id").alias("qid"),
        F.array_join(F.slice(F.split(F.col("text"), " "), 1, 3), " ").alias("qtext"),
    )
    return bm25_rank(d, q, top_k=_HY_LEG_K)


def _hy_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from carrot_transform_spark.queries.similarity import _dot, _norm, _to_double

    e = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < _BM25_SLICE)
    n = e.select("vec_id", _to_double("embedding").alias("v")).withColumn(
        "nrm", _norm(F.col("v"))
    )
    q = n.filter(F.col("vec_id") % _BM25_QMOD == 3).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    scored = n.crossJoin(F.broadcast(q)).select(
        "qid",
        F.col("vec_id").alias("doc"),
        (_dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))).alias("cs"),
    )
    rn = F.row_number().over(Window.partitionBy("qid").orderBy(F.desc("cs"), F.asc("doc")))
    return (
        scored.withColumn("rnk", rn)
        .filter(F.col("rnk") <= _HY_LEG_K)
        .select("qid", "doc", "rnk", fround(F.col("cs"), 6).alias("rel"))
    )


def sim_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RRF fusion (k=60) of the BM25 top-20 and dense-cosine top-20 legs,
    fused top-10 per query. Fusion input is O(|q| * leg_k) rows whatever
    the corpus size — the legs do all corpus-sized work."""
    from carrot_transform_spark.operators.hybrid import rrf_fuse

    return rrf_fuse(
        [_hy_lex(spark, sf_dir), _hy_dense(spark, sf_dir)], top_k=_HY_TOPK
    )


def sim_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hits@10 + exact reciprocal-rank sums for the bm25 / dense / hybrid
    systems under self-retrieval qrels (each query's relevant doc is its
    own source doc — queries are prefixes/embeddings OF corpus docs).
    Emits exact components (n_hit, sum_rr), not means: MRR = sum_rr/|q|."""
    from carrot_transform_spark.operators.hybrid import retrieval_eval, rrf_fuse

    lex = _hy_lex(spark, sf_dir)
    dense = _hy_dense(spark, sf_dir)
    qrels = (
        load(spark, sf_dir, "documents")
        .filter((F.col("doc_id") < _BM25_SLICE) & (F.col("doc_id") % _BM25_QMOD == 3))
        .select(F.col("doc_id").alias("qid"), F.col("doc_id").alias("rel_doc"))
    )
    runs = {
        "bm25": lex,
        "dense": dense,
        "hybrid": rrf_fuse([lex, dense], top_k=_HY_TOPK),
    }
    return retrieval_eval(runs, qrels, k=_HY_TOPK)


def _hy_lex_sql() -> str:
    from carrot_transform_spark.operators.bm25 import bm25_sql

    docs = f"(SELECT * FROM documents WHERE doc_id < {_BM25_SLICE}) hydocs"
    qs = (
        f"(SELECT doc_id AS qid, "
        f"array_to_string((string_split(text, ' '))[1:3], ' ') AS qtext "
        f"FROM documents WHERE doc_id < {_BM25_SLICE} "
        f"AND doc_id % {_BM25_QMOD} = 3) hyq"
    )
    return bm25_sql(docs, qs, top_k=_HY_LEG_K)


_HY_DENSE_SQL = f"""
    WITH hyn AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        FROM embeddings WHERE vec_id < {_BM25_SLICE}
    ),
    hyq AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM hyn WHERE vec_id % {_BM25_QMOD} = 3),
    hyscored AS (
        SELECT hyq.qid AS qid, hyn.vec_id AS doc,
               list_sum(list_transform(list_zip(hyq.qv, hyn.v), s -> s[1] * s[2])) / (hyq.qn * hyn.nrm) AS cs
        FROM hyq CROSS JOIN hyn
    ),
    hyranked AS (
        SELECT qid, doc, cs,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cs DESC, doc) AS rnk
        FROM hyscored
    )
    SELECT qid, doc, rnk, {fround_sql("cs", 6)} AS rel
    FROM hyranked WHERE rnk <= {_HY_LEG_K}
"""

_HY_QRELS_SQL = (
    f"SELECT doc_id AS qid, doc_id AS rel_doc FROM documents "
    f"WHERE doc_id < {_BM25_SLICE} AND doc_id % {_BM25_QMOD} = 3"
)


def _hy_rrf_oracle() -> str:
    from carrot_transform_spark.operators.hybrid import rrf_sql

    return rrf_sql([_hy_lex_sql(), _HY_DENSE_SQL], top_k=_HY_TOPK)


def _hy_eval_oracle() -> str:
    from carrot_transform_spark.operators.hybrid import retrieval_eval_sql

    return retrieval_eval_sql(
        {"bm25": _hy_lex_sql(), "dense": _HY_DENSE_SQL, "hybrid": _hy_rrf_oracle()},
        _HY_QRELS_SQL,
        k=_HY_TOPK,
    )


def _hy_qrels_graded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded multi-doc qrels for the nDCG check: each query's own source
    doc is grade 3, its two successors grade 2 / grade 1 (deterministic
    neighbor rule — successors exist for every qid at _BM25_SLICE=400)."""
    base = (
        load(spark, sf_dir, "documents")
        .filter((F.col("doc_id") < _BM25_SLICE) & (F.col("doc_id") % _BM25_QMOD == 3))
        .select(F.col("doc_id").alias("qid"))
    )
    parts = [
        base.select("qid", (F.col("qid") + off).alias("rel_doc"), F.lit(g).alias("grade"))
        for off, g in ((0, 3), (2, 2), (1, 1))
    ]
    from functools import reduce

    return reduce(DataFrame.unionByName, parts)


_HY_QRELS_GRADED_SQL = "\nUNION ALL\n".join(
    f"SELECT doc_id AS qid, doc_id + {off} AS rel_doc, {g} AS grade "
    f"FROM documents WHERE doc_id < {_BM25_SLICE} AND doc_id % {_BM25_QMOD} = 3"
    for off, g in ((0, 3), (2, 2), (1, 1))
)


def sim_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded nDCG@10 components for the bm25 / dense / hybrid systems
    (operators/hybrid.ndcg_eval, Jarvelin & Kekalainen 2002) under the
    three-level neighbor qrels — the graded companion of
    sim_retrieval_eval's binary hits@k/MRR."""
    from carrot_transform_spark.operators.hybrid import ndcg_eval, rrf_fuse

    lex = _hy_lex(spark, sf_dir)
    dense = _hy_dense(spark, sf_dir)
    runs = {
        "bm25": lex,
        "dense": dense,
        "hybrid": rrf_fuse([lex, dense], top_k=_HY_TOPK),
    }
    return ndcg_eval(runs, _hy_qrels_graded(spark, sf_dir), k=_HY_TOPK)


def _hy_ndcg_oracle() -> str:
    from carrot_transform_spark.operators.hybrid import ndcg_eval_sql

    return ndcg_eval_sql(
        {"bm25": _hy_lex_sql(), "dense": _HY_DENSE_SQL, "hybrid": _hy_rrf_oracle()},
        _HY_QRELS_GRADED_SQL,
        k=_HY_TOPK,
    )


def sim_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall@5 of the IVF-bucketed leg against the exact brute-force
    ranking (operators/hybrid.ann_recall) — the quality metric that makes
    an approximate index auditable: per-query overlap counts, recall =
    SUM(n_hit)/SUM(n_truth) left to the reader so the emission stays
    integer-exact. Composes the two standing ANN legs unchanged."""
    from carrot_transform_spark.operators.hybrid import ann_recall
    from carrot_transform_spark.queries.similarity import (
        sim_ivf_topk,
        sim_topk_bruteforce,
    )

    return ann_recall(
        sim_topk_bruteforce(spark, sf_dir), sim_ivf_topk(spark, sf_dir)
    ).orderBy("qid")


def _ann_recall_oracle() -> str:
    from carrot_transform_spark.operators.hybrid import ann_recall_sql
    from carrot_transform_spark.queries.similarity import (
        BRUTE_TOPK_SQL,
        IVF_TOPK_SQL,
    )

    return ann_recall_sql(BRUTE_TOPK_SQL, IVF_TOPK_SQL)


# ---- MMR diversification over the dense candidates ---------------------
# (operators/mmr.py, Carbonell & Goldstein 1998.) Candidates = the dense
# top-20 with their quantized cosine as rel; pairwise sims are computed
# candidate×candidate within each query (O(|q| * k^2), never corpus-sized).
_MMR_LAM = 0.7
_MMR_K = 5


def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy MMR (lam=0.7) selecting 5 diverse docs per query from the
    dense top-20 — the k-step greedy is unrolled into declarative joins +
    windows (see operators/mmr.py), every step keyed on qid only."""
    from carrot_transform_spark.operators.mmr import mmr_rerank
    from carrot_transform_spark.queries.similarity import _dot, _norm, _to_double

    cand = _hy_dense(spark, sf_dir).select("qid", "doc", "rel")
    e = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < _BM25_SLICE)
    n = e.select(
        F.col("vec_id").alias("doc"), _to_double("embedding").alias("v")
    ).withColumn("nrm", _norm(F.col("v")))
    a = cand.join(n, "doc").select(
        "qid", F.col("doc").alias("doc_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = cand.join(n, "doc").select(
        F.col("qid").alias("qid_b"),
        F.col("doc").alias("doc_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    pairs = a.join(
        b, (F.col("qid") == F.col("qid_b")) & (F.col("doc_a") != F.col("doc_b"))
    ).select(
        "qid",
        "doc_a",
        "doc_b",
        fround(
            _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
        ).alias("sim"),
    )
    return mmr_rerank(cand, pairs, lam=_MMR_LAM, k=_MMR_K)


_MMR_PAIRS_SQL = f"""
    WITH mcand AS (SELECT qid, doc FROM ({_HY_DENSE_SQL}) mcin),
    hyn2 AS (
        SELECT vec_id AS doc,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        FROM embeddings WHERE vec_id < {_BM25_SLICE}
    ),
    ma AS (SELECT c.qid, c.doc AS doc_a, n.v AS va, n.nrm AS na
           FROM mcand c JOIN hyn2 n ON n.doc = c.doc),
    mb AS (SELECT c.qid AS qid_b, c.doc AS doc_b, n.v AS vb, n.nrm AS nb
           FROM mcand c JOIN hyn2 n ON n.doc = c.doc)
    SELECT ma.qid, ma.doc_a, mb.doc_b,
           {fround_sql("list_sum(list_transform(list_zip(ma.va, mb.vb), s -> s[1] * s[2])) / (ma.na * mb.nb)", 6)} AS sim
    FROM ma JOIN mb ON mb.qid_b = ma.qid AND mb.doc_b <> ma.doc_a
"""


def _mmr_oracle() -> str:
    from carrot_transform_spark.operators.mmr import mmr_sql

    cand = f"SELECT qid, doc, rel FROM ({_HY_DENSE_SQL}) mmr_cand_in"
    return mmr_sql(cand, _MMR_PAIRS_SQL, lam=_MMR_LAM, k=_MMR_K)


_TRI_SQL = f"""
    WITH d AS (SELECT doc_id FROM documents WHERE doc_id < {_PR_M}),
    raw AS (
        SELECT doc_id AS src, (doc_id * doc_id + 1) % {_PR_M} AS dst FROM d
        UNION ALL SELECT doc_id, (doc_id * 7 + 3) % {_PR_M} FROM d
    ),
    edges AS (
        SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM raw WHERE src <> dst
    ),
    tri AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM edges e1
        JOIN edges e2 ON e2.a = e1.b
        JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    nodes AS (
        SELECT x AS node FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri
    )
    SELECT node, COUNT(*) AS n_triangles FROM nodes GROUP BY node ORDER BY node
    """


register_suite(
    "pipe_ops_suite",
    [
        (
            "ds_stratified_sample",
            ds_stratified_sample,
            DS_STRATIFIED_SQL,
            [("lang", "s"), ("n_kept", "i"), ("min_doc", "i"), ("max_doc", "i"), ("sum_doc", "i")],
        ),
        (
            "txt_chunk_windows",
            txt_chunk_windows,
            _CHUNK_SQL,
            [("doc_id", "i"), ("chunk_idx", "i"), ("n_tokens", "i"), ("chunk_text", "s")],
        ),
        (
            "txt_pack_bins",
            txt_pack_bins,
            _PACK_SQL,
            [("doc_id", "i"), ("chunk_idx", "i"), ("n_tokens", "i"), ("bin_idx", "i"), ("bin_offset", "i")],
        ),
        (
            "dd_decontaminate",
            dd_decontaminate,
            _DECON_SQL,
            [("doc_id", "i"), ("n_hits", "i"), ("n_bench_docs", "i")],
        ),
        (
            "dd_cc_groups",
            dd_cc_groups,
            _CC_SQL,
            [("doc_id", "i"), ("component_id", "i")],
        ),
        (
            "dd_cc_star_groups",
            dd_cc_star_groups,
            _CC_SQL,
            [("doc_id", "i"), ("component_id", "i")],
        ),
        (
            "txt_cms_heavy_hitters",
            txt_cms_heavy_hitters,
            _cms_sql(),
            [("word", "s"), ("exact_n", "i"), ("cms_est", "i")],
        ),
        (
            "txt_quality_filter",
            txt_quality_filter,
            _quality_filter_sql(),
            [
                ("doc", "i"),
                ("n_tokens", "i"),
                ("stopword_hits", "i"),
                ("alnum_ratio", "f"),
                ("dup_word_frac", "f"),
                ("reject_reasons", "s"),
                ("keep", "i"),
            ],
        ),
        (
            "txt_repetition",
            txt_repetition,
            repetition_profile_sql("documents", "doc_id", "text"),
            [
                ("doc", "i"),
                ("n_tokens", "i"),
                ("dup_word_frac", "f"),
                ("top_word_frac", "f"),
                ("top_bigram_frac", "f"),
            ],
        ),
        (
            "dd_span_dups",
            dd_span_dups,
            span_dup_profile_sql("documents", "doc_id", "text", span=_SPAN, stride=_STRIDE),
            [("doc", "i"), ("n_spans", "i"), ("n_dup_spans", "i"), ("dup_span_frac", "f")],
        ),
        (
            "ds_hash_split",
            ds_hash_split,
            _hash_split_sql(),
            [("doc_id", "i"), ("split", "s")],
        ),
        (
            "ds_curriculum_sample",
            ds_curriculum_sample,
            _curriculum_sql(),
            [("doc_id", "i"), ("score", "i"), ("bucket", "i"), ("sampled", "i")],
        ),
        (
            "ds_weighted_sample",
            ds_weighted_sample,
            _weighted_sample_sql(),
            [("doc_id", "i"), ("weight", "i"), ("sampled", "i")],
        ),
        (
            "ds_sample_exact_n",
            ds_sample_exact_n,
            _sample_exact_n_sql(),
            [("doc_id", "i"), ("lang", "s")],
        ),
        (
            "ds_zorder_keys",
            ds_zorder_keys,
            _zorder_sql(),
            [("doc_id", "i"), ("x", "i"), ("y", "i"), ("z", "i")],
        ),
        (
            "ds_cap_per_group",
            ds_cap_per_group,
            _cap_sql(),
            [("doc_id", "i"), ("lang", "s"), ("kept", "i")],
        ),
        (
            "diag_skew_profile",
            diag_skew_profile,
            _skew_sql(),
            [("custkey", "i"), ("n_rows", "i"), ("rank", "i"), ("ppm", "i"), ("salts_hint", "i")],
        ),
        (
            "dd_incremental_pairs",
            dd_incremental_pairs,
            _incremental_sql(),
            [("doc_a", "i"), ("doc_b", "i"), ("jaccard", "f")],
        ),
        (
            "txt_vocab_ids",
            txt_vocab_ids,
            _VOCAB_SQL,
            [("doc_id", "i"), ("n_tokens", "i"), ("n_unk", "i"), ("ids_csv", "s")],
        ),
        (
            "dd_bloom_semijoin",
            dd_bloom_semijoin,
            _BLOOM_SQL,
            [("o_orderkey", "i"), ("o_custkey", "i")],
        ),
        (
            "graph_pagerank",
            graph_pagerank,
            _pagerank_sql(),
            [("node", "i"), ("rank_e9", "i")],
        ),
        (
            "graph_triangles",
            graph_triangles,
            _TRI_SQL,
            [("node", "i"), ("n_triangles", "i")],
        ),
        (
            "txt_span_scrub",
            txt_span_scrub,
            _span_scrub_sql(),
            [("doc", "i"), ("n_tokens", "i"), ("n_removed", "i"), ("clean_text", "s")],
        ),
        (
            "txt_exact_scrub",
            txt_exact_scrub,
            _exact_scrub_sql(),
            [("doc", "i"), ("n_tokens", "i"), ("n_removed", "i"), ("clean_text", "s")],
        ),
        (
            "diag_table_profile",
            diag_table_profile,
            _table_profile_sql(),
            [("col_name", "s"), ("n_rows", "i"), ("n_nulls", "i"), ("n_distinct", "i"),
             ("min_s", "s"), ("max_s", "s")],
        ),
        (
            "txt_bpe_train",
            txt_bpe_train,
            bpe_train_sql(_BPE_MERGES),
            [("kind", "s"), ("k", "i"), ("a", "s"), ("b", "s"), ("n", "i")],
        ),
        (
            "txt_bigram_nll",
            txt_bigram_nll,
            bigram_nll_sql() + " ORDER BY doc_id",
            [("doc_id", "i"), ("n_bigrams", "i"), ("avg_nll", "f")],
        ),
        (
            "txt_kn_nll",
            txt_kn_nll,
            kn_nll_sql() + " ORDER BY doc_id",
            [("doc_id", "i"), ("n_bigrams", "i"), ("avg_nll", "f")],
        ),
        (
            "txt_kn3_nll",
            txt_kn3_nll,
            kn3_nll_sql() + " ORDER BY doc_id",
            [("doc_id", "i"), ("n_trigrams", "i"), ("avg_nll", "f")],
        ),
        (
            "txt_unigram_encode",
            txt_unigram_encode,
            unigram_sql() + " ORDER BY kind, a",
            [("kind", "s"), ("a", "s"), ("k", "i"), ("n", "i"), ("b", "s")],
        ),
        (
            "txt_wordpiece_encode",
            txt_wordpiece_encode,
            wordpiece_sql() + " ORDER BY kind, a",
            [("kind", "s"), ("a", "s"), ("b", "s"), ("k", "i"), ("n", "i")],
        ),
        (
            "dd_edit_pairs",
            dd_edit_pairs,
            edit_join_words_sql(
                table=f"(SELECT * FROM documents WHERE doc_id < {_EDIT_SLICE})",
                k=_EDIT_K,
            )
            + " ORDER BY a, b",
            [("a", "s"), ("b", "s"), ("dist", "i")],
        ),
        (
            "txt_logreg_quality",
            txt_logreg_quality,
            logreg_sql(
                table=f"(SELECT * FROM documents WHERE doc_id < {_HEAVY_SLICE})",
                label_sql="text LIKE '%spark%'",
            )
            + " ORDER BY kind, id",
            [("kind", "s"), ("id", "i"), ("val", "f")],
        ),
        (
            "sketch_kll_quantiles",
            sketch_kll_quantiles,
            _KLL_SQL,
            [
                ("event_type", "s"),
                ("q", "f"),
                ("n_rows", "i"),
                ("min_v", "f"),
                ("max_v", "f"),
                ("in_bound", "i"),
            ],
        ),
        (
            "ds_dsir_select",
            ds_dsir_select,
            dsir_sql(
                table=f"(SELECT * FROM documents WHERE doc_id < {_HEAVY_SLICE})",
                target_pred=f"doc_id % {_DSIR_TMOD} = 0",
                k=_DSIR_K,
            )
            + " ORDER BY doc_id",
            [
                ("doc_id", "i"),
                ("n_feats", "i"),
                ("log_w", "f"),
                ("g_key", "f"),
                ("sel_rank", "i"),
            ],
        ),
        (
            "txt_bm25_topk",
            txt_bm25_topk,
            _bm25_oracle(),
            [("qid", "i"), ("doc", "i"), ("score", "f"), ("rnk", "i")],
        ),
        (
            "sim_hybrid_rrf",
            sim_hybrid_rrf,
            _hy_rrf_oracle(),
            [("qid", "i"), ("doc", "i"), ("rrf_score", "f"), ("rnk", "i")],
        ),
        (
            "sim_retrieval_eval",
            sim_retrieval_eval,
            _hy_eval_oracle(),
            [("system", "s"), ("n_hit", "i"), ("sum_rr", "f")],
        ),
        (
            "sim_mmr_rerank",
            sim_mmr_rerank,
            _mmr_oracle(),
            [("qid", "i"), ("doc", "i"), ("step", "i"), ("mmr_score", "f")],
        ),
        (
            "sim_ndcg_eval",
            sim_ndcg_eval,
            _hy_ndcg_oracle(),
            [("system", "s"), ("n_q", "i"), ("sum_ndcg", "f")],
        ),
        (
            "sim_ann_recall",
            sim_ann_recall,
            _ann_recall_oracle(),
            [("qid", "i"), ("n_truth", "i"), ("n_hit", "i")],
        ),
        (
            "dd_edit_incremental",
            dd_edit_incremental,
            _edit_incremental_oracle(),
            [("a", "s"), ("b", "s"), ("dist", "i")],
        ),
    ],
    tags=("pipeline", "suite"),
)
