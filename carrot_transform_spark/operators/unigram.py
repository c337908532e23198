"""SentencePiece-style unigram-LM tokenizer: piece vocabulary induction +
Viterbi encoding, as distributed DataFrame ops.

The third tokenizer family next to whole-word vocab ids
(operators/vocab.py) and BPE merge-training (operators/bpe.py): unigram-LM
tokenizers (Kudo 2018, arXiv:1804.10959; SentencePiece arXiv:1808.06226)
segment each word into the MINIMUM-COST sequence of subword pieces under a
piece unigram model — encoding is a per-word Viterbi shortest path over
the segmentation lattice.

Everything here is corpus-size-independent after the word-dedup pass (the
operators/bpe.py trick):

1. ``word_counts``: distinct words + frequencies — the ONE corpus-sized
   aggregation (map-side combined).
2. ``piece_vocab``: candidate pieces = all substrings of length 1..P of
   the distinct words, frequency-weighted by word count; pieces below
   min_count are dropped EXCEPT single characters (the unsegmentable-word
   fallback, as SentencePiece keeps required characters). Integer costs
   round(-ln(freq/total) * 1e6) keep the whole DP in BIGINT arithmetic —
   bit-equal across engines, no float-sum drift.
3. ``viterbi_segment``: unrolled dynamic programming — one explode+join
   builds the (word, j, pos, piece, cost) lattice against the broadcast
   piece table, then L rounds of join + per-word argmin extend the best
   prefix path position by position. The DP state carries the prefix
   segmentation STRING, and ties break on (cost, seg) lexicographically —
   a total order both engines share, so the chosen path is unique and
   engine-stable. Per-round cost is O(|distinct words| x P), independent
   of corpus size; L (max word length) bounds the round count.

The DuckDB twin (``unigram_sql``) re-runs the induction and every DP round
as chained MATERIALIZED CTEs — the generated-twin recipe of
operators/bpe.bpe_train_sql and operators/logreg.logreg_sql.

At 100 TB: |distinct words| is the working set (Heaps' law, ~1e7-1e8 for
web corpora) — the lattice is ~L*P rows per word, the piece table is
broadcast data, and no stage touches corpus-sized row counts after step 1.
A production variant would additionally cap the piece table to top-K by
frequency; the induction here keeps every piece above min_count to stay
exactly reproducible in SQL.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from carrot_transform_spark.functions.rounding import fround, fround_sql

_WS = "[ \t\r\n]+"
_US = "\x1f"
DEFAULT_MAX_WORD = 12  # words longer than this are left unsegmented (skipped)
DEFAULT_MAX_PIECE = 4
DEFAULT_MIN_COUNT = 5
_COST_SCALE = 1_000_000


def word_counts(
    docs: DataFrame,
    text_col: str = "text",
    max_word: int = DEFAULT_MAX_WORD,
) -> DataFrame:
    """(word, cnt): distinct words of length 1..max_word with corpus
    frequencies — the only corpus-sized job (tokenisation matches
    operators/bpe.py / ngram_lm.py / dsir.py)."""
    toks = F.explode(F.split(F.col(text_col), _WS)).alias("word")
    return (
        docs.select(toks)
        .filter((F.col("word") != "") & (F.length("word") <= max_word))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def piece_vocab(
    words: DataFrame,
    max_piece: int = DEFAULT_MAX_PIECE,
    min_count: int = DEFAULT_MIN_COUNT,
) -> DataFrame:
    """(piece, freq, cost): substring pieces of the distinct words,
    frequency = sum of containing-word counts over every occurrence;
    single characters always survive, longer pieces need freq >= min_count.
    cost = round(-ln(freq/total) * 1e6) as BIGINT, total over KEPT pieces.
    """
    # every (start, length) substring slot of every word, weighted by cnt
    subs = words.select(
        F.explode(
            F.expr(
                f"""flatten(transform(sequence(1, length(word)), i ->
                    transform(sequence(1, least({int(max_piece)}, length(word) - i + 1)),
                              l -> substring(word, i, l))))"""
            )
        ).alias("piece"),
        "cnt",
    )
    freqs = subs.groupBy("piece").agg(F.sum("cnt").alias("freq"))
    kept = freqs.filter(
        (F.length("piece") == 1) | (F.col("freq") >= F.lit(int(min_count)))
    )
    total = kept.agg(F.sum("freq").alias("tot"))
    return kept.crossJoin(F.broadcast(total)).select(
        "piece",
        "freq",
        # the raw -ln is routed through fround at a 1e-9 guard scale first:
        # both engines then floor the SAME shortest-repr-stable double, so a
        # 1-ulp libm divergence can no longer flip the integer cost (and
        # cascade through every Viterbi round)
        F.floor(
            fround(-F.log(F.col("freq") / F.col("tot")), 9) * _COST_SCALE
            + F.lit(0.5)
        )
        .cast("long")
        .alias("cost"),
    )


def _lattice_frame(
    w: DataFrame,
    pieces: DataFrame,
    max_piece: int,
    persist_registry: list | None = None,
) -> DataFrame:
    """(word, j, pos, piece, cost): every in-vocab piece occurrence slot of
    every word — the shared segmentation lattice behind the Viterbi DP and
    the soft-EM forward-backward pass (ONE explode + broadcast join)."""
    slots = w.select(
        "word",
        F.explode(
            F.expr(
                f"""flatten(transform(sequence(1, length(word)), i ->
                    transform(sequence(1, least({int(max_piece)}, length(word) - i + 1)),
                              l -> struct(i - 1 AS j, i + l - 1 AS pos,
                                          substring(word, i, l) AS piece))))"""
            )
        ).alias("s"),
    ).select("word", F.col("s.j").alias("j"), F.col("s.pos").alias("pos"), F.col("s.piece").alias("piece"))
    lattice = (
        slots.join(F.broadcast(pieces.select("piece", "cost")), "piece")
        .select("word", "j", "pos", "piece", "cost")
        .persist()
    )
    if persist_registry is not None:
        persist_registry.append(lattice)
    lattice.count()
    return lattice


def viterbi_segment(
    words: DataFrame,
    pieces: DataFrame,
    max_word: int = DEFAULT_MAX_WORD,
    max_piece: int = DEFAULT_MAX_PIECE,
    persist_registry: list | None = None,
) -> DataFrame:
    """(word, cnt, cost, seg, n_tokens): the unique minimum-(cost, seg)
    segmentation of every word, seg = pieces joined by US.

    One lattice build (explode + broadcast join), then max_word rounds of
    join + per-word argmin. Every intermediate frame is |words|-sized.
    """
    spark = words.sparkSession
    w = words.persist()
    if persist_registry is not None:
        persist_registry.append(w)
    lattice = _lattice_frame(w, pieces, max_piece, persist_registry)
    # DP: one small frame per settled position, eagerly localCheckpoint-ed
    # so round r+1 re-plans from a LogicalRDD leaf. Without the cut, each
    # round's plan embeds the last max_piece rounds' full trees — a
    # max_piece^max_word node blow-up that OOMs the driver in plan
    # stringification on a 31-word corpus. Constraint propagation is off
    # for the loop (the dedup.py CC-fixpoint recipe) so checkpoints of
    # union-derived frames can't capture dangling attribute constraints.
    from functools import reduce

    from carrot_transform_spark.operators.dedup import _constraint_propagation_off

    par = spark.sparkContext.defaultParallelism
    with _constraint_propagation_off(spark):
        zero = (
            w.select(
                "word",
                F.lit(0).alias("pos"),
                F.lit(0).cast("long").alias("cost"),
                F.lit("").alias("seg"),
            )
            .repartition(par, "word")
            .localCheckpoint(eager=True)
        )
        rounds: dict[int, DataFrame] = {0: zero}
        for r in range(1, max_word + 1):
            lo = max(0, r - max_piece)
            prev = reduce(
                DataFrame.unionByName, [rounds[i] for i in range(lo, r)]
            )
            cand = (
                lattice.filter(F.col("pos") == r)
                .join(
                    prev.withColumnRenamed("pos", "j").withColumnRenamed("cost", "pc"),
                    ["word", "j"],
                )
                .select(
                    "word",
                    (F.col("pc") + F.col("cost")).alias("c"),
                    F.when(F.col("seg") == "", F.col("piece"))
                    .otherwise(F.concat_ws(_US, "seg", "piece"))
                    .alias("s"),
                )
            )
            rounds[r] = (
                cand.groupBy("word")
                .agg(F.min(F.struct(F.col("c"), F.col("s"))).alias("b"))
                .select(
                    "word",
                    F.lit(r).alias("pos"),
                    F.col("b.c").alias("cost"),
                    F.col("b.s").alias("seg"),
                )
                .repartition(par, "word")
                .localCheckpoint(eager=True)
            )
    bests = reduce(
        DataFrame.unionByName, [rounds[r] for r in range(1, max_word + 1)]
    )
    finals = bests.select(
        F.col("word").alias("bword"), "pos", "cost", "seg"
    )
    done = (
        w.join(
            finals,
            (F.col("word") == F.col("bword")) & (F.length("word") == F.col("pos")),
        )
        .select("word", "cnt", "cost", "seg")
        .withColumn("n_tokens", F.size(F.split("seg", _US)))
    )
    return done.select("word", "cnt", "cost", "seg", "n_tokens")


DEFAULT_PRUNE_FRAC = 0.2

# quantization scales for the soft-EM forward-backward arithmetic: every
# libm call (exp, ln) and every sum is fenced the dsum way — fround the
# double, then accumulate in exact DECIMAL so association order can't
# drift between engines
_FB_EXP_Q = 12  # exp terms are in (0, 1] relative to the per-slot min cost
_FB_GAMMA_Q = 9  # posterior occupancy gamma in (0, ~1]
_FB_USED_Q = 6  # cnt-weighted expected counts
_FB_EXP_DEC = "decimal(38,12)"
_FB_USED_DEC = "decimal(38,6)"


def _lse_round(cand: DataFrame, out_cost: str) -> DataFrame:
    """One log-sum-exp settle: cand = (word, tc) rows for a single lattice
    position; returns (word, <out_cost>) with
    cost = m - round(ln(Σ fround(exp(-(tc - m)/1e6), 12)) * 1e6), m = min.

    Engine-stable: tc and m are BIGINT costs, (tc - m) is exact, exp/ln go
    through fround before any use, and the Σ runs in DECIMAL(38,12) — the
    only cross-engine risks are the two libm calls, both quantized. The
    relative-to-min trick keeps every exp term in (0, 1] so no scaling /
    underflow machinery is needed at any word length."""
    mins = cand.groupBy("word").agg(F.min("tc").alias("m"))
    terms = cand.join(mins, "word").select(
        "word",
        "m",
        fround(
            F.exp(
                -((F.col("tc") - F.col("m")).cast("double")) / F.lit(1000000.0)
            ),
            _FB_EXP_Q,
        )
        .cast(_FB_EXP_DEC)
        .alias("t"),
    )
    agg = terms.groupBy("word").agg(F.min("m").alias("m"), F.sum("t").alias("s"))
    return agg.select(
        "word",
        (
            F.col("m")
            - F.floor(
                fround(F.log(F.col("s").cast("double")), 9) * _COST_SCALE
                + F.lit(0.5)
            ).cast("long")
        ).alias(out_cost),
    )


def soft_expected_counts(
    words: DataFrame,
    pieces: DataFrame,
    max_word: int = DEFAULT_MAX_WORD,
    max_piece: int = DEFAULT_MAX_PIECE,
    persist_registry: list | None = None,
) -> DataFrame:
    """(piece, used): forward-backward EXPECTED piece-occurrence counts
    over all segmentations (Kudo 2018 §3.2 E-step marginals), word-count
    weighted — the soft twin of the Viterbi usage counts in em_refine.

    Same lattice frame and same per-round localCheckpoint discipline as
    viterbi_segment; the forward pass settles string positions 1..L, the
    backward pass settles distances-from-end 1..L (so both loops are the
    identical join-per-round shape whatever each word's length), and the
    per-edge posterior is gamma = exp(-(alpha_j + cost + beta_pos - Z)/1e6)
    from the three settled integer-cost tables. used = Σ cnt · gamma in
    DECIMAL — order-independent, engine-exact given the quantized libm
    calls (see _lse_round)."""
    spark = words.sparkSession
    w = words.persist()
    if persist_registry is not None:
        persist_registry.append(w)
    lattice = _lattice_frame(w, pieces, max_piece, persist_registry)

    from functools import reduce

    from carrot_transform_spark.operators.dedup import _constraint_propagation_off

    par = spark.sparkContext.defaultParallelism
    L = int(max_word)
    with _constraint_propagation_off(spark):
        fzero = (
            w.select("word", F.lit(0).alias("pos"), F.lit(0).cast("long").alias("ac"))
            .repartition(par, "word")
            .localCheckpoint(eager=True)
        )
        fr: dict[int, DataFrame] = {0: fzero}
        for r in range(1, L + 1):
            lo = max(0, r - max_piece)
            prev = reduce(
                DataFrame.unionByName, [fr[i] for i in range(lo, r)]
            ).withColumnRenamed("pos", "j")
            cand = (
                lattice.filter(F.col("pos") == r)
                .join(prev, ["word", "j"])
                .select("word", (F.col("ac") + F.col("cost")).alias("tc"))
            )
            fr[r] = (
                _lse_round(cand, "ac")
                .select("word", F.lit(r).alias("pos"), "ac")
                .repartition(par, "word")
                .localCheckpoint(eager=True)
            )
        bzero = (
            w.select(
                "word",
                F.length("word").cast("int").alias("pos"),
                F.lit(0).cast("long").alias("bc"),
            )
            .repartition(par, "word")
            .localCheckpoint(eager=True)
        )
        br: dict[int, DataFrame] = {0: bzero}
        for d in range(1, L + 1):
            lo = max(0, d - max_piece)
            prev = reduce(DataFrame.unionByName, [br[i] for i in range(lo, d)])
            cand = (
                lattice.filter((F.length("word") - F.col("j")) == d)
                .join(prev, ["word", "pos"])
                .select("word", (F.col("cost") + F.col("bc")).alias("tc"))
            )
            br[d] = (
                _lse_round(cand, "bc")
                .select(
                    "word",
                    (F.length("word") - F.lit(d)).cast("int").alias("pos"),
                    "bc",
                )
                .repartition(par, "word")
                .localCheckpoint(eager=True)
            )
    acu = reduce(DataFrame.unionByName, [fr[i] for i in range(0, L + 1)]).select(
        "word", F.col("pos").alias("j"), "ac"
    )
    bcu = reduce(DataFrame.unionByName, [br[i] for i in range(0, L + 1)]).select(
        "word", "pos", "bc"
    )
    z = (
        reduce(DataFrame.unionByName, [fr[i] for i in range(1, L + 1)])
        .filter(F.col("pos") == F.length("word"))
        .select("word", F.col("ac").alias("zc"))
    )
    gamma = fround(
        F.exp(
            -(
                (
                    F.col("ac") + F.col("cost") + F.col("bc") - F.col("zc")
                ).cast("double")
            )
            / F.lit(1000000.0)
        ),
        _FB_GAMMA_Q,
    )
    weighted = (
        lattice.join(acu, ["word", "j"])
        .join(bcu, ["word", "pos"])
        .join(z, "word")
        .join(w.select("word", "cnt"), "word")
        .select(
            "piece",
            fround(F.col("cnt").cast("double") * gamma, _FB_USED_Q)
            .cast(_FB_USED_DEC)
            .alias("t"),
        )
    )
    return weighted.groupBy("piece").agg(F.sum("t").alias("used"))


def em_refine(
    words: DataFrame,
    pieces: DataFrame,
    em_rounds: int = 1,
    prune_frac: float = DEFAULT_PRUNE_FRAC,
    max_word: int = DEFAULT_MAX_WORD,
    max_piece: int = DEFAULT_MAX_PIECE,
    persist_registry: list | None = None,
    em_mode: str = "hard",
) -> DataFrame:
    """SentencePiece-style EM refinement of the piece vocabulary
    (Kudo 2018 §3.2): alternate (E) usage re-estimation under the current
    model with (M) cost re-estimation + pruning of the least-used pieces.

    ``em_mode="hard"`` (default, Viterbi): the E-step counts piece usages
    along each word's MINIMUM-cost segmentation — the same distributed
    lattice DP as encoding (viterbi_segment), so counts come from one
    explode over the |words|-sized segmentation frame, weighted by word
    frequency. Viterbi counts are the standard deterministic
    simplification and keep the whole loop in integer arithmetic.

    ``em_mode="soft"`` (Kudo 2018 §3.2 as published): the E-step is the
    forward-backward pass over the same lattice (soft_expected_counts) —
    MARGINAL expected piece counts over all segmentations, accumulated in
    quantized-double + exact-DECIMAL arithmetic so both engines produce
    identical counts (see _lse_round). Expected counts below 1 clamp to 1
    for the re-cost (the hard-mode unused-piece rule applied uniformly,
    keeping every cost finite); pruning ranks on the EXACT decimal
    expected count.

    Both modes share the M-step:

    - prune the bottom ``prune_frac`` of MULTI-char pieces by
      (usage, piece) ascending — single chars always survive (the
      unsegmentable-word fallback), unused multi-char pieces go first;
    - re-cost kept pieces from their usage counts with the same
      fround-guarded integer -ln recipe as the base induction.

    Each round is: one lattice DP (|words| x max_piece work; soft runs
    forward + backward), one vocab-sized count aggregate, one vocab-sized
    re-rank, one checkpoint of the re-costed piece table. The rank window
    is a single-partition sort of the PIECE table only — vocab-scale
    (Heaps' law), never corpus-scale."""
    if em_mode not in ("hard", "soft"):
        raise ValueError(f"em_mode must be 'hard' or 'soft', got {em_mode!r}")
    soft = em_mode == "soft"
    pv = pieces
    for _ in range(max(0, int(em_rounds))):
        if soft:
            used = soft_expected_counts(
                words, pv, max_word, max_piece, persist_registry
            )
            zero_used = F.lit(0).cast(_FB_USED_DEC)
        else:
            seg = viterbi_segment(words, pv, max_word, max_piece, persist_registry)
            used = (
                seg.select(F.explode(F.split("seg", _US)).alias("piece"), "cnt")
                .groupBy("piece")
                .agg(F.sum("cnt").alias("used"))
            )
            zero_used = F.lit(0)
        cnts = (
            pv.select("piece")
            .join(used, "piece", "left")
            .select("piece", F.coalesce("used", zero_used).alias("used"))
        )
        multi = cnts.filter(F.length("piece") > 1)
        n_multi = multi.count()
        n_prune = int(n_multi * float(prune_frac))
        if n_prune > 0:
            rn = F.row_number().over(
                Window.orderBy(F.asc("used"), F.asc("piece"))
            )
            multi = multi.withColumn("rn", rn).filter(F.col("rn") > n_prune)
        kept = cnts.filter(F.length("piece") == 1).unionByName(
            multi.select("piece", "used")
        )
        # unused single chars keep a finite (max) cost via used -> 1
        one = F.lit(1).cast(_FB_USED_DEC) if soft else F.lit(1)
        kept = kept.select(
            "piece", F.greatest(F.col("used"), one).alias("freq")
        )
        total = kept.agg(F.sum("freq").alias("tot"))
        # hard: long/long division promotes to double; soft: EXPLICIT
        # double casts of the exact decimals — Spark's decimal/decimal
        # division has its own scale/rounding rules that DuckDB's double
        # division would never reproduce
        ratio = (
            F.col("freq").cast("double") / F.col("tot").cast("double")
            if soft
            else F.col("freq") / F.col("tot")
        )
        # eagerly localCheckpoint-ed like the DP rounds: the next round's
        # lattice and counts, the final encode and its piece rows all read
        # the vocab-sized table, and unmaterialized each of them re-ran this
        # round's whole E-step
        pv = kept.crossJoin(F.broadcast(total)).select(
            "piece",
            "freq",
            F.floor(fround(-F.log(ratio), 9) * _COST_SCALE + F.lit(0.5))
            .cast("long")
            .alias("cost"),
        ).localCheckpoint(eager=True)
    return pv


def unigram_encode_docs(
    docs: DataFrame,
    text_col: str = "text",
    max_word: int = DEFAULT_MAX_WORD,
    max_piece: int = DEFAULT_MAX_PIECE,
    min_count: int = DEFAULT_MIN_COUNT,
    persist_registry: list | None = None,
    em_rounds: int = 0,
    prune_frac: float = DEFAULT_PRUNE_FRAC,
    em_mode: str = "hard",
) -> DataFrame:
    """Induce the piece vocab and Viterbi-encode every distinct word (the
    sub-check shape): kind='piece' rows (piece, freq, cost) + kind='seg'
    rows (word, cnt, cost, seg). ``em_rounds`` > 0 runs the EM-mode
    refinement (em_refine) between induction and the final encode —
    ``em_mode`` picks Viterbi ('hard') or forward-backward marginal
    ('soft') E-steps; the registry sub-check stays at 0, and both EM
    modes have full DuckDB twins (unigram_sql(em_rounds=k, em_mode=...)
    re-runs every E/M round as chained CTEs — exact-equality-tested in
    tests/test_unigram_em.py) plus Spark-side brute-force pins."""
    wc = word_counts(docs, text_col, max_word)
    pv = piece_vocab(wc, max_piece, min_count)
    if em_rounds > 0:
        pv = em_refine(
            wc, pv, em_rounds, prune_frac, max_word, max_piece,
            persist_registry, em_mode,
        )
    seg = viterbi_segment(wc, pv, max_word, max_piece, persist_registry)
    piece_rows = pv.select(
        F.lit("piece").alias("kind"),
        F.col("piece").alias("a"),
        # floor BEFORE the long cast: soft-EM freqs are DECIMAL and the
        # engines disagree on decimal->int casts (Spark truncates, DuckDB
        # rounds); an explicit floor pins both (no-op for integer freqs)
        F.floor(F.col("freq")).cast("long").alias("k"),
        F.col("cost").alias("n"),
        F.lit("").alias("b"),
    )
    seg_rows = seg.select(
        F.lit("seg").alias("kind"),
        F.col("word").alias("a"),
        F.col("n_tokens").cast("long").alias("k"),
        F.col("cost").alias("n"),
        F.col("seg").alias("b"),
    )
    return piece_rows.unionByName(seg_rows)


def _fb_sql_blocks(
    L: int, P: int, lattice: str, prefix: str
) -> tuple[list[str], str]:
    """The soft-EM forward-backward pass as chained CTEs over ``lattice``:
    returns (CTE texts, name of the expected-counts table). Mirrors
    soft_expected_counts / _lse_round expression for expression — BIGINT
    cost diffs, fround-quantized exp/ln, DECIMAL sums — so the marginal
    counts are exactly row-equal across engines."""
    sc = _COST_SCALE
    exp_t = fround_sql("exp((-(CAST(tc - m AS DOUBLE))) / 1000000.0)", _FB_EXP_Q)
    settle = (
        f"m - CAST(floor({fround_sql('ln(CAST(s AS DOUBLE))', 9)} * {sc} + 0.5)"
        " AS BIGINT)"
    )
    parts = [
        f"{prefix}f0 AS (SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS ac FROM wc)"
    ]
    for r in range(1, L + 1):
        lo = max(0, r - P)
        prev = " UNION ALL ".join(
            f"SELECT * FROM {prefix}f{i}" for i in range(lo, r)
        )
        parts.append(
            f"""{prefix}f{r} AS MATERIALIZED (
        SELECT word, {r} AS pos, {settle} AS ac
        FROM (
            SELECT word, MIN(m) AS m,
                   SUM(CAST({exp_t} AS {_FB_EXP_DEC.upper()})) AS s
            FROM (
                SELECT m.word, b.ac + m.cost AS tc,
                       MIN(b.ac + m.cost) OVER (PARTITION BY m.word) AS m
                FROM {lattice} m
                JOIN ({prev}) b ON b.word = m.word AND b.pos = m.j
                WHERE m.pos = {r}
            ) GROUP BY word
        )
    )"""
        )
    parts.append(
        f"{prefix}g0 AS (SELECT word, length(word) AS pos, CAST(0 AS BIGINT) AS bc FROM wc)"
    )
    for d in range(1, L + 1):
        lo = max(0, d - P)
        prev = " UNION ALL ".join(
            f"SELECT * FROM {prefix}g{i}" for i in range(lo, d)
        )
        parts.append(
            f"""{prefix}g{d} AS MATERIALIZED (
        SELECT word, length(word) - {d} AS pos, {settle} AS bc
        FROM (
            SELECT word, MIN(m) AS m,
                   SUM(CAST({exp_t} AS {_FB_EXP_DEC.upper()})) AS s
            FROM (
                SELECT m.word, m.cost + b.bc AS tc,
                       MIN(m.cost + b.bc) OVER (PARTITION BY m.word) AS m
                FROM {lattice} m
                JOIN ({prev}) b ON b.word = m.word AND b.pos = m.pos
                WHERE length(m.word) - m.j = {d}
            ) GROUP BY word
        )
    )"""
        )
    f_all = " UNION ALL ".join(f"SELECT * FROM {prefix}f{i}" for i in range(L + 1))
    f_fin = " UNION ALL ".join(f"SELECT * FROM {prefix}f{i}" for i in range(1, L + 1))
    g_all = " UNION ALL ".join(f"SELECT * FROM {prefix}g{i}" for i in range(L + 1))
    parts.append(
        f"{prefix}z AS (SELECT word, ac AS zc FROM ({f_fin}) WHERE pos = length(word))"
    )
    gexp = fround_sql(
        "exp((-(CAST(a.ac + m.cost + b.bc - z.zc AS DOUBLE))) / 1000000.0)",
        _FB_GAMMA_Q,
    )
    wexp = fround_sql(f"CAST(w.cnt AS DOUBLE) * {gexp}", _FB_USED_Q)
    parts.append(
        f"""{prefix}used AS (
        SELECT piece, SUM(t) AS used FROM (
            SELECT m.piece, CAST({wexp} AS {_FB_USED_DEC.upper()}) AS t
            FROM {lattice} m
            JOIN ({f_all}) a ON a.word = m.word AND a.pos = m.j
            JOIN ({g_all}) b ON b.word = m.word AND b.pos = m.pos
            JOIN {prefix}z z ON z.word = m.word
            JOIN wc w ON w.word = m.word
        ) GROUP BY piece
    )"""
    )
    return parts, f"{prefix}used"


def _dp_sql_blocks(L: int, lattice: str, prefix: str) -> tuple[list[str], str]:
    """The unrolled Viterbi DP as chained CTEs over ``lattice``: returns
    (CTE texts, final UNION ALL of every settled position). ``prefix``
    namespaces the round tables so several DP passes (EM) can chain in
    one statement."""
    parts = [
        f"{prefix}0 AS (SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS cost, '' AS seg FROM wc)"
    ]
    prev_union = f"SELECT * FROM {prefix}0"
    for r in range(1, L + 1):
        parts.append(
            f"""{prefix}{r} AS MATERIALIZED (
        SELECT word, {r} AS pos, cost, seg FROM (
            SELECT m.word,
                   b.cost + m.cost AS cost,
                   CASE WHEN b.seg = '' THEN m.piece
                        ELSE b.seg || chr(31) || m.piece END AS seg,
                   ROW_NUMBER() OVER (
                       PARTITION BY m.word
                       ORDER BY b.cost + m.cost,
                                CASE WHEN b.seg = '' THEN m.piece
                                     ELSE b.seg || chr(31) || m.piece END
                   ) AS rn
            FROM {lattice} m
            JOIN ({prev_union}) b ON b.word = m.word AND b.pos = m.j
            WHERE m.pos = {r}
        ) WHERE rn = 1
    )"""
        )
        prev_union = " UNION ALL ".join(
            f"SELECT * FROM {prefix}{i}" for i in range(r + 1)
        )
    final_union = " UNION ALL ".join(
        f"SELECT * FROM {prefix}{i}" for i in range(L + 1)
    )
    return parts, final_union


def _lattice_sql(name: str, pieces: str, P: int) -> str:
    return f"""{name} AS MATERIALIZED (
        SELECT s.word, s.j, s.pos, s.piece, p.cost
        FROM (
            SELECT w.word, i.i - 1 AS j, i.i + l.l - 1 AS pos,
                   substr(w.word, i.i, l.l) AS piece
            FROM wc w,
                 UNNEST(range(1, length(word) + 1)) AS i(i),
                 UNNEST(range(1, least({P}, length(word) - i.i + 1) + 1)) AS l(l)
        ) s
        JOIN {pieces} p ON p.piece = s.piece
    )"""


def _recost_sql(freq_expr: str = "freq", tot_from: str | None = None) -> str:
    """The shared fround-guarded integer cost: floor(fround(-ln(f/tot),9)*1e6+.5)."""
    raw = f"-ln(CAST({freq_expr} AS DOUBLE) / ({tot_from}))"
    return f"CAST(floor({fround_sql(raw, 9)} * {_COST_SCALE} + 0.5) AS BIGINT)"


def unigram_sql(
    table: str = "documents",
    text_col: str = "text",
    max_word: int = DEFAULT_MAX_WORD,
    max_piece: int = DEFAULT_MAX_PIECE,
    min_count: int = DEFAULT_MIN_COUNT,
    em_rounds: int = 0,
    prune_frac: float = DEFAULT_PRUNE_FRAC,
    em_mode: str = "hard",
) -> str:
    """DuckDB twin of unigram_encode_docs: identical tokenisation, piece
    induction, integer costs, and every Viterbi round as a chained CTE
    with the same (cost, seg) tie-break. ``em_rounds`` > 0 additionally
    re-runs each EM refinement round before the final encode — the SQL
    twin of em_refine: 'hard' E-steps re-run the Viterbi DP and count the
    settled segs; 'soft' E-steps re-run the forward-backward marginal
    pass (_fb_sql_blocks) with the same quantized-double + DECIMAL
    arithmetic as soft_expected_counts."""
    if em_mode not in ("hard", "soft"):
        raise ValueError(f"em_mode must be 'hard' or 'soft', got {em_mode!r}")
    soft = em_mode == "soft"
    P, L = int(max_piece), int(max_word)
    # the 1e-9 fround guard before the 1e6 scale/floor — see piece_vocab
    base_tot = (
        "SELECT SUM(freq) FROM subs "
        f"WHERE length(piece) = 1 OR freq >= {min_count}"
    )
    parts = [
        f"""wc AS MATERIALIZED (
        SELECT word, COUNT(*) AS cnt FROM (
            SELECT unnest(list_filter(regexp_split_to_array({text_col}, '{_WS}'),
                                      t -> t <> '')) AS word
            FROM {table}
        ) WHERE length(word) <= {L}
        GROUP BY word
    ),
    subs AS (
        SELECT substr(word, i.i, l.l) AS piece, SUM(cnt) AS freq
        FROM wc,
             UNNEST(range(1, length(word) + 1)) AS i(i),
             UNNEST(range(1, least({P}, length(word) - i.i + 1) + 1)) AS l(l)
        GROUP BY 1
    ),
    pieces0 AS MATERIALIZED (
        SELECT piece, freq,
               {_recost_sql("freq", base_tot)} AS cost
        FROM subs WHERE length(piece) = 1 OR freq >= {min_count}
    )"""
    ]
    cur = "pieces0"
    for k in range(max(0, int(em_rounds))):
        lat = f"e{k}lat"
        parts.append(_lattice_sql(lat, cur, P))
        if soft:
            # E-step: forward-backward marginal expected counts (DECIMAL)
            fb_parts, used_tab = _fb_sql_blocks(L, P, lat, f"e{k}")
            parts.extend(fb_parts)
            zero_used = f"CAST(0 AS {_FB_USED_DEC.upper()})"
            one_used = f"CAST(1 AS {_FB_USED_DEC.upper()})"
            tot = f"SELECT CAST(SUM(freq) AS DOUBLE) FROM e{k}kept"
        else:
            dp_parts, dp_union = _dp_sql_blocks(L, lat, f"e{k}b")
            parts.extend(dp_parts)
            # E-step: Viterbi usage counts over every word's settled seg,
            # weighted by word frequency (em_refine's hard-EM counts)
            used_tab = f"e{k}used"
            parts.append(
                f"""e{k}used AS (
        SELECT u.piece, SUM(s.cnt) AS used FROM (
            SELECT w.word, w.cnt, f.seg
            FROM wc w JOIN ({dp_union}) f
              ON f.word = w.word AND f.pos = length(w.word)
        ) s, UNNEST(string_split(s.seg, chr(31))) AS u(piece)
        GROUP BY u.piece
    )"""
            )
            zero_used = "0"
            one_used = "1"
            tot = f"SELECT SUM(freq) FROM e{k}kept"
        # M-step: per-piece usage over the CURRENT vocab, bottom-frac
        # prune of multi-char pieces by (used, piece) asc — single chars
        # always survive; pieces used less than once count as 1 (finite
        # cost; in hard mode that's exactly the unused-single-char rule)
        parts.append(
            f"""e{k}cnts AS (
        SELECT p.piece, COALESCE(u.used, {zero_used}) AS used
        FROM {cur} p LEFT JOIN {used_tab} u ON u.piece = p.piece
    ),
    e{k}multi AS (
        SELECT piece, used,
               ROW_NUMBER() OVER (ORDER BY used ASC, piece ASC) AS rn,
               COUNT(*) OVER () AS n_multi
        FROM e{k}cnts WHERE length(piece) > 1
    ),
    e{k}kept AS (
        SELECT piece, GREATEST(used, {one_used}) AS freq
        FROM e{k}cnts WHERE length(piece) = 1
        UNION ALL
        SELECT piece, GREATEST(used, {one_used}) AS freq
        FROM e{k}multi
        WHERE rn > CAST(floor(n_multi * CAST({float(prune_frac)!r} AS DOUBLE)) AS BIGINT)
    ),
    pieces{k + 1} AS MATERIALIZED (
        SELECT piece, freq,
               {_recost_sql("freq", tot)} AS cost
        FROM e{k}kept
    )"""
        )
        cur = f"pieces{k + 1}"
    parts.append(_lattice_sql("lattice", cur, P))
    dp_parts, final_union = _dp_sql_blocks(L, "lattice", "b")
    parts.extend(dp_parts)
    body = ",\n    ".join(parts)
    return f"""
    WITH {body}
    SELECT 'piece' AS kind, piece AS a, CAST(floor(freq) AS BIGINT) AS k, cost AS n, '' AS b
    FROM {cur}
    UNION ALL
    SELECT 'seg' AS kind, w.word AS a,
           CAST(len(string_split(f.seg, chr(31))) AS BIGINT) AS k,
           f.cost AS n, f.seg AS b
    FROM wc w
    JOIN ({final_union}) f ON f.word = w.word AND f.pos = length(w.word)
    """


# ------------------------------------------------- persistence + encoding


def save_unigram(path: str, pieces: DataFrame) -> None:
    """Persist a trained unigram tokenizer as one parquet table
    <path>/pieces (piece, id, freq, cost); ids are assigned by piece sort
    order so the artifact is deterministic. Same immutable plain-parquet
    hand-off as operators/bpe.save_tokenizer — train once, encode
    everywhere."""
    from pyspark.sql import Window

    w = Window.orderBy("piece")
    out = pieces.select(
        "piece",
        (F.row_number().over(w) - 1).cast("long").alias("id"),
        F.col("freq").cast("long").alias("freq"),
        "cost",
    )
    out.coalesce(1).write.mode("overwrite").parquet(f"{path}/pieces")


def load_unigram(spark, path: str) -> dict[str, tuple[int, int]]:
    """piece -> (id, cost) from a saved tokenizer."""
    rows = spark.read.parquet(f"{path}/pieces").collect()
    return {r["piece"]: (int(r["id"]), int(r["cost"])) for r in rows}


UNK_ID = -1


def unigram_encode(
    docs: DataFrame,
    piece_table: dict[str, tuple[int, int]],
    text_col: str = "text",
    id_col: str = "doc_id",
    max_piece: int = DEFAULT_MAX_PIECE,
) -> DataFrame:
    """Encode NEW text with a trained piece table: per word, the same
    (cost, seg)-lexicographic Viterbi as training-time viterbi_segment,
    with a virtual single-char <unk> piece (id -1, cost above every real
    path) covering characters outside the vocabulary — unsegmentable
    words encode instead of erroring, exactly like SentencePiece's unk.
    Arrow-batched mapInPandas, per-batch word memoisation (the
    bpe_encode recipe)."""
    import re
    from typing import Iterator

    ws = re.compile(_WS)
    # strictly above any real path: (max real cost + 1) per character
    unk_cost = max((c for _, c in piece_table.values()), default=0) + 1

    def segment(word: str) -> list[int]:
        best: dict[int, tuple[int, tuple[int, ...], str]] = {0: (0, (), "")}
        for pos in range(1, len(word) + 1):
            cands = []
            for plen in range(1, min(max_piece, pos) + 1):
                j = pos - plen
                if j not in best:
                    continue
                piece = word[j:pos]
                hit = piece_table.get(piece)
                if hit is None and plen > 1:
                    continue
                c0, ids0, seg0 = best[j]
                pid, pc = hit if hit is not None else (UNK_ID, unk_cost)
                seg = piece if seg0 == "" else seg0 + _US + piece
                cands.append((c0 + pc, seg, ids0 + (pid,)))
            if cands:
                c, s, ids = min(cands)
                best[pos] = (c, ids, s)
        return list(best[len(word)][1])

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        memo: dict[str, list[int]] = {}
        for pdf in batches:
            ids_col = []
            for text in pdf[text_col].astype(object):
                ids: list[int] = []
                for w in ws.split(text or ""):
                    if not w:
                        continue
                    got = memo.get(w)
                    if got is None:
                        got = memo[w] = segment(w)
                    ids.extend(got)
                ids_col.append(ids)
            yield pd.DataFrame({id_col: pdf[id_col], "ids": ids_col})

    return docs.select(id_col, text_col).mapInPandas(
        run, f"{id_col} long, ids array<long>"
    )
