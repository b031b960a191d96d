"""True BPE train -> apply (round 9): multi-level greedy merge learning.

``ta_bpe_pairs`` (tokenizer.py) computes the FIRST iteration's statistic
(adjacent char-pair counts); ``wordpiece.py`` applies a static vocabulary
with greedy longest-match. This module closes the remaining gap: the
actual BPE training loop (Sennrich et al. 2016) — iteratively pick the
highest-count adjacent SYMBOL pair under the current segmentation, merge
it everywhere, recount — so later merges combine already-merged symbols
(multi-level, e.g. 'a'+'b' -> 'ab', then 'ab'+'c' -> 'abc'), which no
single-pass pair statistic can produce. The reference has no tokenizer at
all (its token arithmetic is 4 chars/token, doc2vec.ts:2006-2008).

Deterministic, engine-identical semantics (documented contract):
- training corpus = the DISTINCT-word frequency table (ONE corpus-sized
  token shuffle — the same table every ta_* operator reuses), filtered to
  words of <= MAX_WORD_CHARS chars containing none of the three sentinel
  chars (chr(1) cell separator, chr(2) pair separator, chr(3) merge-list
  separator — unprintable, absent from natural text);
- a segmentation under a merge list applies, PER MERGE in rank order,
  TWO all-occurrence left-to-right replace passes of the SEP-ANCHORED
  pattern ``SEP||a||SEP||b||SEP -> SEP||a||b||SEP`` over the
  segmentation wrapped in leading/trailing SEP (exactly SQL ``replace``
  semantics, identical in Spark and DuckDB). Anchoring both sides means
  a merge can only ever join two complete adjacent CELLS — it cannot
  match across a cell boundary (ADVICE r9: unanchored replace could turn
  'xa|b' into one piece 'xab' with no ('xa','b') merge learned,
  polluting training counts and emitting pieces underivable from the
  merge table). Two passes are required because adjacent merge sites
  share their boundary SEP: pass one greedily consumes alternating
  sites in a run, pass two picks up the skipped sites, after which no
  anchored occurrence remains (a replacement cell ``a||b`` is strictly
  longer than ``a`` and ``b``, so no pass creates new sites of the same
  pair). The divergence from single-scan cell-greedy merging: inside a
  run of >= 5 identical symbols under a self-merge, two-pass anchored
  replace UNDER-MERGES relative to greedy — pass one takes alternating
  sites, pass two can only pair up what's left, so 'aaaaa' ->
  aa|a|aa (greedy: aa|aa|a — same multiset, different order) but
  'aaaaaa' -> aa|a|aa|a where greedy yields aa|aa|aa (a DIFFERENT
  piece multiset: every even run >= 6 and odd run >= 9 under-merges,
  shifting downstream training pair counts; regression-pinned in
  tests/test_round9_ops.py). What IS guaranteed — and what the
  engine-exactness story rests on — is derivability (every multi-char
  piece is exactly ``a||b`` of a learned merge) plus bytewise
  engine-identical segmentation (both engines and the replay run the
  same two-pass contract, so hashes match regardless);
- each of the NUM_MERGES training steps recomputes every word's
  segmentation under the merges learned so far, counts adjacent cell
  pairs weighted by word frequency, and appends the best pair not already
  in the list (count DESC, then (a, b) lexicographic).

Engine-exactness: counts are integers, tie-breaks lexicographic, and the
replace chain is bytewise-identical in both engines, so the learned merge
table and every segmentation hash-match without tolerance. The oracle
replays TRAINING as a recursive CTE whose step is a correlated aggregation
subquery over the words table, and APPLY as a ``list_reduce`` fold of the
learned merge string — fully self-contained SQL.

100 TB story: the corpus collapses to the word-frequency table first;
training touches only that vocabulary-sized table (NUM_MERGES bounded
driver-paced iterations, each one small job — merge state is NUM_MERGES
rows, the literal-LUT discipline); apply is map-only native `replace`
expressions over distinct words. Corpus size never enters the loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from doc2vec_spark.operators.wordpiece import MAX_WORD_CHARS, _corpus_words
from doc2vec_spark.spec import registrar

QUERIES, _register = registrar()


NUM_MERGES = 8
SEP = "\x01"  # cell separator inside a segmented word
PSEP = "\x02"  # a<PSEP>b inside one encoded merge
MSEP = "\x03"  # between encoded merges in the merge-list string

# words eligible for training/apply (mirrored in _CAND_SQL)
_SENTINELS = (SEP, PSEP, MSEP)
# the BATCHED oracle's list_reduce fold additionally reserves chr(4)/chr(5)
# for its own state encoding (room || chr(4) || accepted || chr(4) || used)
_BATCH_STATE_SENTINELS = ("\x04", "\x05")

_WORDS_SQL = r"""
  SELECT tok AS word, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        FROM documents)
  WHERE tok <> '' GROUP BY tok
"""

_CAND_SQL = f"""
  SELECT word, freq FROM words
  WHERE len(word) <= {MAX_WORD_CHARS}
    AND NOT contains(word, chr(1))
    AND NOT contains(word, chr(2))
    AND NOT contains(word, chr(3))
"""

# segmentation of ``word`` under the merge-list string ``m`` (SQL): start
# from the char split joined by chr(1) and WRAPPED in leading/trailing
# chr(1), then TWO SEP-anchored replace passes per merge in rank order via
# list_reduce (the initial state is prepended, so an empty merge list folds
# to the initial state itself); the outer wrap is trimmed at the end
def _seg_sql(word_expr: str, merges_expr: str) -> str:
    pat = "chr(1) || split_part(m, chr(2), 1) || chr(1) || split_part(m, chr(2), 2) || chr(1)"
    rep = "chr(1) || split_part(m, chr(2), 1) || split_part(m, chr(2), 2) || chr(1)"
    return f"""trim(list_reduce(
      list_prepend(chr(1) || array_to_string(regexp_split_to_array({word_expr}, ''), chr(1)) || chr(1),
        CASE WHEN {merges_expr} = '' THEN []::VARCHAR[]
             ELSE string_split({merges_expr}, chr(3)) END),
      (acc, m) -> replace(replace(acc, {pat}, {rep}), {pat}, {rep})), chr(1))"""


def _train_cte() -> str:
    """Recursive training CTE -> st(step, merges); final merges at
    step = NUM_MERGES. The recursive term's best-pair pick is a correlated
    scalar subquery aggregating over the words table segmented under the
    merges learned so far."""
    return f"""
words AS ({_WORDS_SQL}),
cand AS ({_CAND_SQL}),
st(step, merges) AS (
  SELECT 0, ''
  UNION ALL
  SELECT step + 1,
         CASE WHEN best IS NULL THEN merges
              WHEN merges = '' THEN best
              ELSE merges || chr(3) || best END
  FROM (
    SELECT s0.step, s0.merges,
           (SELECT a || chr(2) || b FROM (
              SELECT cells[i] AS a, cells[i + 1] AS b,
                     CAST(SUM(freq) AS BIGINT) AS n
              FROM (SELECT freq,
                           string_split({_seg_sql('word', 's0.merges')}, chr(1))
                             AS cells
                    FROM cand),
                   unnest(generate_series(1, len(cells) - 1)) t(i)
              GROUP BY a, b)
            WHERE NOT contains(chr(3) || s0.merges || chr(3),
                               chr(3) || a || chr(2) || b || chr(3))
            ORDER BY n DESC, a, b LIMIT 1) AS best
    FROM st s0 WHERE s0.step < {NUM_MERGES})),
final AS (SELECT merges FROM st WHERE step = {NUM_MERGES})
"""


def _seg_col(word: Column, merges: list[tuple[str, str]]) -> Column:
    """Native segmentation under a LITERAL merge list: the char split joined
    by SEP and wrapped in leading/trailing SEP, then two SEP-anchored
    F.replace passes per merge in rank order (see module contract), the
    outer wrap trimmed at the end — a linear chain of native expressions
    (each wraps the previous exactly once)."""
    s = F.concat(F.lit(SEP), F.array_join(F.split(word, ""), SEP), F.lit(SEP))
    for a, b in merges:
        pat = F.lit(SEP + a + SEP + b + SEP)
        rep = F.lit(SEP + a + b + SEP)
        s = F.replace(F.replace(s, pat, rep), pat, rep)
    return F.btrim(s, F.lit(SEP))


def _cand_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = _corpus_words(spark, sf_dir).filter(F.length("word") <= MAX_WORD_CHARS)
    for ch in _SENTINELS:
        w = w.filter(~F.col("word").contains(ch))
    return w


def _bounded_vocab(sf_dir: str) -> bool:
    """True when the corpus is MEASURED small (pipeline._small_corpus's
    directory-aware, fail-safe gate): its candidate vocabulary is then a
    bounded summary — at the ~5 MB corpus ceiling a few hundred thousand
    distinct words at most — and the training loop may run driver-side
    like every other literal-LUT operator. Unmeasurable or large corpora
    return False and take the distributed loop: the 100 TB path keeps
    AQE's skew handling and per-round vocabulary-sized jobs unchanged."""
    from doc2vec_spark.operators.pipeline import _small_corpus

    return _small_corpus(sf_dir)


# driver-side training is safe for vocabularies up to this many rows
# (~3 MB of (word, freq) pairs collected — the same order as the
# merge-head collects the distributed loop already does 8x per train).
# Vocabulary plateaus far below corpus growth (Heaps' law), so mid-size
# corpora routinely stay under it; a production multi-million-word
# vocabulary exceeds the probe and takes the distributed loop.
VOCAB_COLLECT_BOUND = 100_000


def _collectable_vocab(sf_dir: str, cand: DataFrame) -> bool:
    """Gate for the driver-side trainer. Two tiers, both fail-safe:
    a corpus the directory-aware size gate measures small is collectable
    with NO Spark job; otherwise ONE probe job checks whether the
    candidate vocabulary fits the collect bound. The limit bounds the
    probe's RESULT (and the count moved driver-ward is <= N+1 rows), but
    it cannot short-circuit the corpus-sized word aggregation underneath —
    a limit above a groupBy still runs the full shuffle — so callers MUST
    cache ``cand`` before probing: the probe then materializes the cache
    and the training rounds reuse it (ADVICE r19 #2; the r19 32x rehearsal
    showed a 992-word vocabulary paying a 7 s distributed job floor that
    trains driver-side in ~1 s). Unmeasurable + over-bound -> distributed."""
    if _bounded_vocab(sf_dir):
        return True
    return cand.limit(VOCAB_COLLECT_BOUND + 1).count() <= VOCAB_COLLECT_BOUND


def _local_seg_cells(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Driver-side replica of ``_seg_col``'s two-pass SEP-anchored replace
    chain (see the module contract): Python str.replace is all-occurrence
    left-to-right — exactly SQL ``replace`` — and str.strip/split on the
    non-regex SEP match btrim/split. Byte-identical to the distributed
    segmentation for every word the candidate filter admits (the oracle's
    per-code-point '' split and Python's code-point iteration also agree;
    the distributed path's Java-regex split would diverge from BOTH only
    on astral-plane chars — pre-existing, corpus-excluded)."""
    s = SEP + SEP.join(word) + SEP
    for a, b in merges:
        pat = SEP + a + SEP + b + SEP
        rep = SEP + a + b + SEP
        s = s.replace(pat, rep).replace(pat, rep)
    return s.strip(SEP).split(SEP)


def _local_pair_counts(
    rows: list[tuple[str, int]], merges: list[tuple[str, str]]
) -> dict[tuple[str, str], int]:
    """Adjacent-cell pair counts weighted by word frequency — the
    driver-side replica of ``_pair_counts`` for bounded vocabularies."""
    counts: dict[tuple[str, str], int] = {}
    for word, freq in rows:
        cells = _local_seg_cells(word, merges)
        for pair in zip(cells, cells[1:]):
            counts[pair] = counts.get(pair, 0) + freq
    return counts


def _ordered_fresh_pairs(
    counts: dict[tuple[str, str], int], merges: list[tuple[str, str]]
) -> list[tuple[str, str]]:
    """Candidate pairs in (count DESC, a, b) order with already-learned
    pairs removed — Python tuple sort on str is code-point order, the same
    total order as Spark's UTF8String / DuckDB's collation on this data."""
    ordered = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
    return [p for p, _ in ordered if p not in merges]


def _pair_counts(cand: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Adjacent-cell pair counts of the vocabulary segmented under
    ``merges``, weighted by word frequency — the per-step training
    statistic shared by the sequential and batched loops.

    PERF CONTRACT (r19, the r18 18x class): the segmentation is BOUND in
    its own projection before the zip_with/slice expressions reference it.
    Inlined, the ``cells`` Column would be copied into all four argument
    positions — four evaluations of the full split + 2x``len(merges)``
    replace chain per word, all interpreted (the zip_with HOF keeps the
    projection outside whole-stage codegen, so no runtime CSE). Negligible
    on the 31-word registry vocabulary; 4x the dominant map cost on a
    production multi-million-word one."""
    bound = cand.select(
        "freq", F.split(_seg_col(F.col("word"), merges), SEP).alias("cells")
    )
    cells = F.col("cells")
    return (
        bound.select(
            "freq",
            F.explode(
                F.zip_with(
                    F.slice(cells, 1, F.size(cells) - 1),
                    F.slice(cells, 2, F.size(cells) - 1),
                    lambda x, y: F.struct(x.alias("a"), y.alias("b")),
                )
            ).alias("p"),
        )
        .groupBy("p.a", "p.b")
        .agg(F.sum("freq").alias("n"))
    )


def train_merges_from(
    spark: SparkSession,
    cand: DataFrame,
    num_merges: int = NUM_MERGES,
    small_input: bool = False,
) -> list[tuple[str, str]]:
    """NUM_MERGES greedy merges learned on an (already cached) candidate
    word-frequency table.

    ``small_input=True`` (callers pass ``_collectable_vocab``): the
    vocabulary is a measured-bounded summary, so it is collected ONCE and
    the whole greedy loop runs driver-side — one Spark job total instead
    of one per merge, each of which paid a full scheduler+Catalyst round
    trip to aggregate a handful of rows (the job floor, not the tasks,
    dominated: r19 measured the loop flat after a 78% task cut). The
    driver replica is byte-identical to the distributed step (pinned by
    tests and the DuckDB oracle). A production 32k-merge train on an
    unbounded vocabulary takes the distributed loop below: each step ONE
    vocabulary-sized job (explode adjacent cells of the current
    segmentation, sum word frequencies, take the ordered head), the
    carried state a <= num_merges-row literal — the bounded-summary
    discipline of the waterfill/KMV operators. The corpus-sized work
    happened once either way, in the word-frequency aggregation."""
    merges: list[tuple[str, str]] = []
    if small_input:
        rows = [(r["word"], r["freq"]) for r in cand.collect()]
        for _ in range(num_merges):
            fresh = _ordered_fresh_pairs(_local_pair_counts(rows, merges), merges)
            if not fresh:
                break
            merges.append(fresh[0])
        return merges
    for _ in range(num_merges):
        head = (
            _pair_counts(cand, merges)
            .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
            .limit(len(merges) + 1)
            .collect()
        )
        best = next(
            ((r["a"], r["b"]) for r in head if (r["a"], r["b"]) not in merges),
            None,
        )
        if best is None:
            break
        merges.append(best)
    return merges


def train_merges(spark: SparkSession, sf_dir: str) -> list[tuple[str, str]]:
    """``train_merges_from`` over a transient cache of the candidate table
    (callers that also need the table afterwards — apply — cache it
    themselves and call ``train_merges_from`` directly, so the corpus-sized
    word aggregation runs exactly once)."""
    cand = _cand_words(spark, sf_dir).cache()
    try:
        return train_merges_from(
            spark, cand, small_input=_collectable_vocab(sf_dir, cand)
        )
    finally:
        cand.unpersist(False)


@_register(
    "ta_bpe_train_merges",
    f"""
    WITH RECURSIVE
    {_train_cte()}
    SELECT CAST(i AS BIGINT) AS rank,
           split_part(ms[i], chr(2), 1) AS pair_a,
           split_part(ms[i], chr(2), 2) AS pair_b
    FROM (SELECT string_split(merges, chr(3)) AS ms FROM final WHERE merges <> ''),
         unnest(generate_series(1, len(ms))) t(i)
    ORDER BY rank
    """,
    f"TRUE BPE training (Sennrich et al. 2016): {NUM_MERGES} greedy merges "
    "learned iteratively on the word-frequency table — each step re-segments "
    "the vocabulary under the merges so far, so later merges combine "
    "already-merged symbols (multi-level; ta_bpe_pairs is exactly this "
    "loop's FIRST iteration). Vocabulary-sized jobs only; the oracle "
    "replays training as a recursive CTE with a correlated aggregation "
    "subquery.",
)
def ta_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges = train_merges(spark, sf_dir)
    rows = [(i + 1, a, b) for i, (a, b) in enumerate(merges)]
    # r22 batch 7: VALUES LocalRelation (byte-exact base64 string cells)
    # instead of a Python-RDD frame; see functions/localframe.py.
    if not rows:
        return spark.createDataFrame([], "rank long, pair_a string, pair_b string")
    from doc2vec_spark.functions.localframe import local_frame

    return local_frame(
        spark, rows, "rank long, pair_a string, pair_b string"
    ).orderBy("rank")


# ---------------------------------------------------------------------------
# batched BPE training (round 12 — the 32k-merge job-count story)
# ---------------------------------------------------------------------------
# ``train_merges`` is exact Sennrich: ONE vocabulary-sized Spark job per
# merge. Correct, but a production 32k-merge vocabulary means 32k scheduler
# jobs — a driver-side scale-killer even though every job is tiny (at
# ~0.1 s/job overhead that is ~an hour of pure scheduling). The standard
# relaxation (the max-matching batching used by parallel BPE trainers) is
# to accept up to BPE_BATCH_CAP merges per recount round, restricted to
# pairs that are PAIRWISE SYMBOL-DISJOINT within the round (no accepted
# pair consumes or produces a symbol another accepted pair consumes or
# produces). Disjointness makes the batch exact-by-construction for the
# pairs it accepts: merging (a, b) can only destroy adjacencies that
# involve a or b and can only create adjacencies that involve the new
# symbol a||b, so the count of every symbol-disjoint pair (x, y) is
# INVARIANT under the merge — each accepted pair's count is still its true
# count under the round-start segmentation. The deviation from sequential
# greedy is only that pairs CONFLICTING with an earlier acceptance (and
# pairs involving just-produced symbols) wait for the next round's
# recount. Merge ORDER can therefore differ from sequential BPE — this is
# a documented semantics change with its own oracle, not a drop-in
# replacement (VERDICT r11 #5).
#
# Scale math: rounds ~= merges / (accepted per round). Natural-language
# top pairs share symbols heavily, so early rounds accept few, but symbol
# diversity grows with the vocab: at cap 64 a 32k-merge train needs ~500-
# 1500 recount rounds instead of 32k — a 20-60x job-count cut, each round
# still one vocabulary-sized job. Expression depth stays bounded by
# carrying the segmentation as DATA (re-derived per round from the merge
# list here at registry size; a production loop materializes the seg
# column and localCheckpoints every ~64 rounds — checkpoints.py
# discipline). Apply at production vocab size routes through the
# vocab-TABLE greedy encoder (vocab_encode.py), not a 64k-deep replace
# chain.

BPE_BATCH_CAP = 3  # registry size: forces 3 rounds (3+3+2) at NUM_MERGES=8
BPE_BATCH_OVERFETCH = 32  # ordered candidates scanned per round (both engines)


def train_merges_batched(
    spark: SparkSession,
    sf_dir: str,
    num_merges: int = NUM_MERGES,
    cap: int = BPE_BATCH_CAP,
) -> list[tuple[str, str]]:
    """Batched greedy BPE: per round ONE vocabulary-sized job counts pairs
    under the current segmentation; the driver scans the top
    ``BPE_BATCH_OVERFETCH`` candidates in (count DESC, a, b) order and
    accepts up to ``min(cap, remaining)`` that are symbol-disjoint from
    every pair already accepted this round (consumed symbols a, b and the
    produced symbol a||b all tracked). Deterministic: the outcome is a
    pure function of the ordered candidate list, so the oracle replays the
    scan with a ``list_reduce`` fold.

    ``_bounded_vocab`` corpora run the same scan driver-side over the
    collected vocabulary (one Spark job total — see train_merges_from);
    the distributed per-round loop is the unbounded-vocabulary path."""
    cand = _cand_words(spark, sf_dir)
    # the oracle's fold STATE uses chr(4)/chr(5) as its own sentinels, so
    # its cand CTE excludes words containing them — mirror that here or a
    # corpus word carrying \x04/\x05 would be trained on by the engine but
    # excluded by the oracle (review finding r12: the docstring claimed
    # this mirror existed; now it does)
    for ch in _BATCH_STATE_SENTINELS:
        cand = cand.filter(~F.col("word").contains(ch))
    # Cache BEFORE the vocabulary probe (ADVICE r19 #2, mirroring
    # train_merges): on the unbounded path the probe's limit+count must
    # execute the full corpus-sized word aggregation anyway — a limit
    # above a groupBy cannot short-circuit the shuffle — so caching first
    # makes the probe MATERIALIZE the cache instead of discarding that
    # work and re-running the identical aggregation in round 1 (a net
    # extra corpus-sized job on exactly the 100 TB path).
    cand = cand.cache()
    # the probe and the small-path collect run Spark jobs, so they live
    # INSIDE the try: a transient failure there must still unpersist the
    # cache (review r20 — the cache() itself is the only statement allowed
    # between registration and the try)
    try:
        small_input = _collectable_vocab(sf_dir, cand)
        rows: list[tuple[str, int]] = []
        if small_input:
            rows = [(r["word"], r["freq"]) for r in cand.collect()]
        merges: list[tuple[str, str]] = []
        for _round in range(num_merges):  # <= one round per merge: termination
            if len(merges) >= num_merges:
                break
            # already-learned pairs leave the candidate pool BEFORE the
            # head cut (a merged pair can reappear in counts via the
            # under-merge runs case) — mirrors the oracle's WHERE, so
            # both engines scan the same OVERFETCH fresh candidates
            if small_input:
                head = _ordered_fresh_pairs(
                    _local_pair_counts(rows, merges), merges
                )[:BPE_BATCH_OVERFETCH]
            else:
                pairs = _pair_counts(cand, merges)
                if merges:
                    pairs = pairs.filter(
                        ~F.concat(F.col("a"), F.lit(PSEP), F.col("b")).isin(
                            [a + PSEP + b for a, b in merges]
                        )
                    )
                head = [
                    (r["a"], r["b"])
                    for r in pairs.orderBy(
                        F.desc("n"), F.asc("a"), F.asc("b")
                    )
                    .limit(BPE_BATCH_OVERFETCH)
                    .collect()
                ]
            room = min(cap, num_merges - len(merges))
            used: set[str] = set()
            accepted: list[tuple[str, str]] = []
            for a, b in head:
                if len(accepted) >= room:
                    break
                if a in used or b in used or (a + b) in used:
                    continue
                accepted.append((a, b))
                used |= {a, b, a + b}
            if not accepted:
                break
            merges.extend(accepted)
        return merges
    finally:
        cand.unpersist(False)


def _batched_train_cte() -> str:
    """Recursive batched-training CTE -> stb(round, merges). The per-round
    disjoint scan is a ``list_reduce`` over the ordered candidate head;
    fold state is ``accepted-this-round (chr(3)-joined) || chr(4) ||
    used-symbol set (chr(5)-wrapped)``. Candidate words additionally
    exclude the chr(4)/chr(5) state sentinels (mirrored engine-side —
    no-ops on natural text, airtight on adversarial input)."""
    # fold state: ROOM(countdown dots) || chr(4) || ACCEPTED(chr(3)-joined)
    # || chr(4) || USED(chr(5)-wrapped symbol set). The lambda is
    # correlation-free (DuckDB cannot bind s0 inside a lambda): the
    # already-in-global-merges filter is a correlated WHERE like the
    # sequential CTE's, and the per-round acceptance budget arrives as the
    # initial state's dot count.
    a_of = "split_part(c, chr(2), 1)"
    b_of = "split_part(c, chr(2), 2)"
    ab_of = "replace(c, chr(2), '')"
    acc_r = "split_part(acc, chr(4), 1)"
    acc_m = "split_part(acc, chr(4), 2)"
    acc_u = "split_part(acc, chr(4), 3)"
    step = f"""CASE
      WHEN {acc_r} = '' THEN acc
      WHEN contains({acc_u}, chr(5) || {a_of} || chr(5)) THEN acc
      WHEN contains({acc_u}, chr(5) || {b_of} || chr(5)) THEN acc
      WHEN contains({acc_u}, chr(5) || {ab_of} || chr(5)) THEN acc
      ELSE substr({acc_r}, 2) || chr(4)
           || (CASE WHEN {acc_m} = '' THEN c ELSE {acc_m} || chr(3) || c END)
           || chr(4)
           || (CASE WHEN {acc_u} = '' THEN chr(5) ELSE {acc_u} END)
           || {a_of} || chr(5) || {b_of} || chr(5) || {ab_of} || chr(5)
    END"""
    room = (
        f"LEAST({BPE_BATCH_CAP}, {NUM_MERGES} - "
        "CASE WHEN s0.merges = '' THEN 0 "
        "ELSE len(string_split(s0.merges, chr(3))) END)"
    )
    return f"""
words AS ({_WORDS_SQL}),
cand AS ({_CAND_SQL}
    AND NOT contains(word, chr(4))
    AND NOT contains(word, chr(5))),
stb(round, merges) AS (
  SELECT 0, ''
  UNION ALL
  SELECT round + 1,
         CASE WHEN batch = '' THEN merges
              WHEN merges = '' THEN batch
              ELSE merges || chr(3) || batch END
  FROM (
    SELECT s0.round, s0.merges,
           (SELECT split_part(
              list_reduce(
                list_prepend(repeat('.', {room}) || chr(4) || chr(4),
                             list_slice(list(a || chr(2) || b ORDER BY n DESC, a, b),
                                        1, {BPE_BATCH_OVERFETCH})),
                (acc, c) -> {step}),
              chr(4), 2)
            FROM (SELECT cells[i] AS a, cells[i + 1] AS b,
                         CAST(SUM(freq) AS BIGINT) AS n
                  FROM (SELECT freq,
                               string_split({_seg_sql('word', 's0.merges')}, chr(1))
                                 AS cells
                        FROM cand),
                       unnest(generate_series(1, len(cells) - 1)) t(i)
                  GROUP BY a, b)
            WHERE NOT contains(chr(3) || s0.merges || chr(3),
                               chr(3) || a || chr(2) || b || chr(3))) AS batch
    FROM stb s0 WHERE s0.round < {NUM_MERGES})),
finalb AS (SELECT merges FROM stb WHERE round = {NUM_MERGES})
"""


@_register(
    "ta_bpe_train_merges_batched",
    f"""
    WITH RECURSIVE
    {_batched_train_cte()}
    SELECT CAST(i AS BIGINT) AS rank,
           split_part(ms[i], chr(2), 1) AS pair_a,
           split_part(ms[i], chr(2), 2) AS pair_b
    FROM (SELECT string_split(merges, chr(3)) AS ms FROM finalb WHERE merges <> ''),
         unnest(generate_series(1, len(ms))) t(i)
    ORDER BY rank
    """,
    f"BATCHED BPE training: up to {BPE_BATCH_CAP} pairwise SYMBOL-DISJOINT "
    "merges accepted per recount round (consumed and produced symbols all "
    "distinct within a round) — the standard max-matching relaxation that "
    "cuts the job count from one per merge to one per round. Disjointness "
    "keeps every accepted pair's count exact under the round-start "
    "segmentation (a merge can't touch a symbol-disjoint pair's "
    "adjacencies); conflicting pairs defer to the next recount. Merge "
    "order may differ from sequential ta_bpe_train_merges — a documented "
    "semantics change with its own oracle, the route a 32k-merge "
    "production train takes.",
)
def ta_bpe_train_merges_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges = train_merges_batched(spark, sf_dir)
    rows = [(i + 1, a, b) for i, (a, b) in enumerate(merges)]
    # r22 batch 7: VALUES LocalRelation (byte-exact base64 string cells)
    # instead of a Python-RDD frame; see functions/localframe.py.
    if not rows:
        return spark.createDataFrame([], "rank long, pair_a string, pair_b string")
    from doc2vec_spark.functions.localframe import local_frame

    return local_frame(
        spark, rows, "rank long, pair_a string, pair_b string"
    ).orderBy("rank")


@_register(
    "ta_bpe_apply",
    f"""
    WITH RECURSIVE
    {_train_cte()}
    SELECT word, freq,
           replace(seg, chr(1), '|') AS pieces,
           CAST(len(string_split(seg, chr(1))) AS BIGINT) AS n_pieces
    FROM (SELECT word, freq, {_seg_sql('word', '(SELECT merges FROM final)')} AS seg
          FROM cand)
    ORDER BY word
    """,
    "BPE APPLY: every eligible distinct word segmented under the "
    f"{NUM_MERGES} trained merges — two SEP-anchored all-occurrence "
    "replace passes per merge in rank order (merges join complete cells "
    "only, never across a boundary), as a linear chain of native replace "
    "expressions over the vocabulary-sized word table (map-only; no UDF). "
    "Completes "
    "the train->apply loop for true multi-level BPE alongside the "
    "wordpiece greedy longest-match encoder.",
)
def ta_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One corpus-sized word aggregation total (r19): train and apply share
    # a single cached candidate table — previously train cached its own
    # copy and the returned apply plan re-aggregated the corpus from
    # scratch, a second full corpus scan+shuffle for identical rows.
    # The cache is SCOPED (r20, ADVICE r19 #3 / VERDICT r19 #4): the
    # returned plan still references it, and caching.py's invocation-scoped
    # release frees it at the next registry invocation entry — the same
    # defer-one-generation lifetime the old _PARKED_APPLY_CACHE module
    # global provided, minus its hazards (an unguarded unpersist that threw
    # on frames from a since-stopped SparkSession, and cross-consumer
    # interleaving unpersisting a plan another caller still held).
    from doc2vec_spark.caching import scoped_cache

    cand = scoped_cache(_cand_words(spark, sf_dir))
    merges = train_merges_from(
        spark, cand, small_input=_collectable_vocab(sf_dir, cand)
    )
    bound = cand.select(
        "word", "freq", _seg_col(F.col("word"), merges).alias("seg")
    )
    seg = F.col("seg")
    return bound.select(
        "word",
        "freq",
        F.replace(seg, F.lit(SEP), F.lit("|")).alias("pieces"),
        F.size(F.split(seg, SEP)).cast("long").alias("n_pieces"),
    ).orderBy("word")
