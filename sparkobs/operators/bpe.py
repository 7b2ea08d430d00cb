"""Distributed BPE tokenizer training and application.

Classic byte-pair-encoding over a corpus, re-expressed relationally:
"training" is n_merges rounds of (count adjacent symbol pairs over the
word-frequency table → take the most frequent pair → merge it
everywhere), and "applying" the learned merges is a chain of literal
string replacements — both pure DataFrame/expression work.

Representation: a word's current symbolization is ONE canonical string
— symbols joined by TWO spaces with a single leading/trailing space
(``"abc" → " a  b  c "``). In that form the merge step is a plain
LITERAL ``replace(sym, ' l  r ', ' lr ')``: every engine's replace()
scans left-to-right non-overlapping, and because adjacent symbols
share two boundary spaces (one "belonging" to each side), consecutive
matches each keep their own boundary — greedy left-to-right BPE merge
semantics, no regex, no lookaround (which RE2/DuckDB lacks), identical
across engines. The invariant (2 spaces between symbols, 1 at the
ends) is preserved by the replacement, which is what makes the whole
training loop oracle-checkable value-for-value in DuckDB.

Scale shape (100 TB corpus):
- the corpus is touched ONCE (word-frequency hash agg); every
  training round runs over the distinct-word table, which is orders
  of magnitude smaller and further shrinks as merges fuse symbols;
- each round is one pair-count hash agg + a TakeOrdered — the only
  driver data is the round's few winning pairs; with ``batch_size=B``
  each round merges up to B symbol-disjoint pairs at exact counts, so
  a 30k-merge vocabulary costs ~30k/B driver rounds (B=1 is classic
  sequential BPE and the oracle mode);
- lineage is truncated with an eager ``localCheckpoint`` per round
  (the iterative-plan growth fix proven in
  :func:`sparkobs.operators.dedup.connected_components`);
- applying merges to documents is a per-row chain of n_merges literal
  replaces — narrow, codegen'd, no joins, no loop jobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkobs.io import collect_at_most
from sparkobs.operators.text import tokens_nonempty

#: chars → canonical symbol string; per-element substring references
#: only the word attribute (cheap O(len) accesses, not re-parses)
_CHARS_EXPR = "transform(sequence(1, length(word)), i -> substring(word, i, 1))"

#: longest merge chain :func:`bpe_apply` builds as ONE expression
#: tree; a longer merge list folds in segments of this many merges
BPE_MAX_CHAIN = 512


def word_frequencies(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(word, freq, sym) over the corpus — the single pass that ever
    touches full-corpus data; ``sym`` is the canonical single-char
    symbolization every merge round rewrites."""
    words = df.select(F.explode(tokens_nonempty(text_col)).alias("word"))
    wf = words.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    sym = F.concat(
        F.lit(" "), F.array_join(F.expr(_CHARS_EXPR), "  "), F.lit(" ")
    )
    return wf.select("word", "freq", sym.alias("sym"))


def _pair_counts(words: DataFrame) -> DataFrame:
    syms = F.split(F.trim(F.col("sym")), "  ")
    n1 = F.greatest(F.size(syms) - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice(syms, 1, n1),
        F.slice(syms, 2, n1),
        lambda a, b: F.struct(a.alias("lhs"), b.alias("rhs")),
    )
    return (
        words.select("freq", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs"))
        .agg(F.sum("freq").alias("pair_freq"))
    )


#: driver rounds of the most recent :func:`bpe_train` call — batching
#: instrumentation (tests/test_corpus_ops.py::
#: test_bpe_train_batched_disjoint_pairs_match_sequential asserts
#: batching cuts this ~B×).
LAST_TRAIN_ROUNDS = 0


def _select_disjoint(top_rows, budget: int) -> list[tuple]:
    """Greedy symbol-disjoint selection from a (freq desc, lhs, rhs)
    ordered candidate list: a pair is taken only if neither symbol
    appears in any already-taken pair — where "appears" includes each
    taken pair's MERGED output symbol, so a homograph candidate (e.g.
    ('abc','d') while ('ab','c') is selected and 'abc' already exists
    in the vocab from an earlier round) waits for the next round
    rather than consuming occurrences the earlier replace creates
    mid-round. Disjoint pairs then cannot share or produce a common
    symbol position in any word, so applying them in one round leaves
    each other's occurrence counts untouched — the counts collected
    for the round stay exact for every selected pair."""
    used: set[str] = set()
    picked: list[tuple] = []
    for r in top_rows:
        lhs, rhs = r["lhs"], r["rhs"]
        if lhs in used or rhs in used:
            continue
        picked.append((lhs, rhs, int(r["pair_freq"])))
        used.add(lhs)
        used.add(rhs)
        used.add(lhs + rhs)
        if len(picked) >= budget:
            break
    return picked


#: dense-dispatch bound for :func:`bpe_train`: at or below this many
#: DISTINCT WORDS (the word-frequency table — the corpus itself is
#: never the bound), the merge rounds run driver-side. Byte budget: 64k
#: words × ~200 B (freq + canonical sym string) ≈ 13 MB collected
#: once; per-round work is a C-speed str.replace scan over ≤13 MB.
DENSE_BPE_MAX_WORDS = 65536


def _dense_bpe_train(
    pdf, spark, n_merges: int, batch_size: int
) -> DataFrame:
    """The dense tier of :func:`bpe_train`: identical merge rounds
    driver-side over ``pdf``, the collected (freq, sym) word-frequency
    table. Replays the distributed semantics EXACTLY, sharing
    :func:`_select_disjoint`:

    - pair counts are exact integer sums over adjacent symbol pairs of
      each word's canonical ``sym`` (``strip`` + split on two spaces =
      the ``trim``/``split`` the distributed ``_pair_counts`` does);
    - candidate order is (pair_freq DESC, lhs ASC, rhs ASC) truncated
      to the same over-fetch window — Python's code-point string
      order IS Spark's UTF8String byte order (UTF-8 preserves
      code-point order), and (lhs, rhs) keys are unique so the order
      is total;
    - each selected pair applies as the same literal
      ``" l  r " → " lr "`` replacement; Python ``str.replace`` and
      Spark ``replace()`` share left-to-right non-overlapping scan
      semantics, so the symbolizations stay byte-identical.

    Tier equality is pinned by a hypothesis property
    (tests/test_properties.py::test_bpe_train_tiers_agree) and the
    registry's DuckDB oracles certify the same merge tables. Sets
    ``LAST_TRAIN_ROUNDS`` identically (the batching assertion in
    tests/test_corpus_ops.py::
    test_bpe_train_batched_disjoint_pairs_match_sequential sees the
    same counter either way)."""
    global LAST_TRAIN_ROUNDS
    freqs = pdf["freq"].tolist()
    syms = pdf["sym"].tolist()
    merges: list[tuple] = []
    rounds = 0
    while len(merges) < n_merges:
        budget = min(batch_size, n_merges - len(merges))
        pc: dict = {}
        for f, s in zip(freqs, syms):
            parts = s.strip(" ").split("  ")
            for a, b in zip(parts, parts[1:]):
                pc[(a, b)] = pc.get((a, b), 0) + f
        ordered = sorted(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )[: max(4 * budget, 16)]
        top = [
            {"lhs": a, "rhs": b, "pair_freq": c} for (a, b), c in ordered
        ]
        if not top:
            break
        rounds += 1
        for lhs, rhs, freq in _select_disjoint(top, budget):
            merges.append((len(merges) + 1, lhs, rhs, lhs + rhs, freq))
            old, new = f" {lhs}  {rhs} ", f" {lhs}{rhs} "
            syms = [s.replace(old, new) for s in syms]
    LAST_TRAIN_ROUNDS = rounds
    return spark.createDataFrame(
        merges, "step int, lhs string, rhs string, merged string, pair_freq bigint"
    )


def bpe_train(
    df: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
    batch_size: int = 1,
    words: DataFrame | None = None,
) -> DataFrame:
    """Learn ``n_merges`` BPE merges from the corpus. Returns the merge
    table (step, lhs, rhs, merged, pair_freq) — deterministic: ties on
    pair frequency break on (lhs, rhs) lexicographically.

    ``batch_size=1`` (default) is CLASSIC sequential BPE — one driver
    round per merge, the oracle-exact mode. ``batch_size=B`` is the
    scale mode: each driver round collects the top candidate pairs
    once and takes up to B of them that are pairwise SYMBOL-DISJOINT
    (no shared lhs/rhs), so their collected frequencies remain exact
    under each other's application and all B replaces fold into one
    codegen'd rewrite + one checkpoint. A 30k-merge vocabulary then
    costs ~30k/B driver rounds instead of 30k scheduled jobs — the
    standard fast-BPE batching; it can diverge from the sequential
    merge ORDER only where a merge would have spawned a new pair hot
    enough to outrank the round's remaining candidates. The round's
    TOP pair is always selected, so every round makes the same first
    choice sequential BPE would.

    Stops early if the vocabulary runs out of adjacent pairs (every
    word fused to one symbol).

    Dense dispatch: ≤ ``DENSE_BPE_MAX_WORDS`` distinct words run the
    rounds in :func:`_dense_bpe_train` (:func:`sparkobs.io.collect_at_most`).

    ``words`` (r14 optimization round): callers that train MULTIPLE
    vocabularies over ONE corpus (the batched-parity certification
    trains the same text sequentially and batched) can pass the
    :func:`word_frequencies` frame once — ALREADY eagerly
    checkpointed/persisted by the caller (this function then never
    re-derives or re-materializes it) — so the corpus is scanned once
    per query instead of once per training run. The merge table is a
    pure function of the word-frequency table, so results are
    unchanged by construction."""
    global LAST_TRAIN_ROUNDS
    if batch_size < 1:
        raise ValueError(f"batch_size must be >= 1, got {batch_size}")
    spark = df.sparkSession
    if words is None:
        words = word_frequencies(df, text_col).localCheckpoint(eager=True)
    pdf = collect_at_most(words.select("freq", "sym"), DENSE_BPE_MAX_WORDS)
    if pdf is not None:
        return _dense_bpe_train(pdf, spark, n_merges, batch_size)
    merges: list[tuple] = []
    rounds = 0
    while len(merges) < n_merges:
        budget = min(batch_size, n_merges - len(merges))
        # over-fetch so the disjointness filter still finds ~budget
        # pairs; bounded driver data either way (a few KB)
        top = (
            _pair_counts(words)
            .orderBy(F.desc("pair_freq"), F.asc("lhs"), F.asc("rhs"))
            .limit(max(4 * budget, 16))
            .collect()
        )
        if not top:
            break
        rounds += 1
        sym = F.col("sym")
        for lhs, rhs, freq in _select_disjoint(top, budget):
            merges.append((len(merges) + 1, lhs, rhs, lhs + rhs, freq))
            sym = F.replace(
                sym, F.lit(f" {lhs}  {rhs} "), F.lit(f" {lhs}{rhs} ")
            )
        words = words.withColumn("sym", sym).localCheckpoint(eager=True)
    LAST_TRAIN_ROUNDS = rounds
    return spark.createDataFrame(
        merges, "step int, lhs string, rhs string, merged string, pair_freq bigint"
    )


def bpe_apply(
    df: DataFrame,
    merges: list[tuple],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Tokenize every document with an ordered merge list (``(lhs,
    rhs)`` pairs, e.g. ``[(r["lhs"], r["rhs"]) for r in
    bpe_train(...).collect()]``): per document, the total symbol count
    before/after and the compression ratio.

    One explode + a per-word chain of ``len(merges)`` literal
    replaces + one doc-keyed agg — the merge list is driver-side by
    construction (n_merges rows), so this is broadcast-free narrow
    work. A real 30k-merge vocabulary cannot live in ONE expression
    tree (analysis/codegen recursion scales with chain depth), so the
    chain folds in ``BPE_MAX_CHAIN``-sized segments with an eager
    localCheckpoint between segments — ≤ n_merges/BPE_MAX_CHAIN
    materializations of the narrow (id, n_chars, sym) projection,
    still no joins and no Python."""
    w = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens_nonempty(text_col)).alias("word"),
    )
    s = F.concat(F.lit(" "), F.array_join(F.expr(_CHARS_EXPR), "  "), F.lit(" "))
    if len(merges) <= BPE_MAX_CHAIN:
        for lhs, rhs in merges:
            s = F.replace(s, F.lit(f" {lhs}  {rhs} "), F.lit(f" {lhs}{rhs} "))
    else:
        w = w.select(
            "id", F.length("word").alias("__nc"), s.alias("__sym")
        )
        for i in range(0, len(merges), BPE_MAX_CHAIN):
            seg = F.col("__sym")
            for lhs, rhs in merges[i : i + BPE_MAX_CHAIN]:
                seg = F.replace(seg, F.lit(f" {lhs}  {rhs} "), F.lit(f" {lhs}{rhs} "))
            w = w.withColumn("__sym", seg).localCheckpoint(eager=True)
        return (
            w.select(
                "id",
                F.col("__nc").alias("n_chars"),
                F.size(F.split(F.trim("__sym"), "  ")).alias("n_sym"),
            )
            .groupBy("id")
            .agg(
                F.sum("n_chars").cast("long").alias("n_char_symbols"),
                F.sum("n_sym").cast("long").alias("n_bpe_tokens"),
            )
            .select(
                F.col("id").alias(id_col),
                "n_char_symbols",
                "n_bpe_tokens",
                F.round(
                    F.col("n_bpe_tokens") / F.col("n_char_symbols"), 4
                ).alias("compression"),
            )
        )
    return (
        w.select(
            "id",
            F.length("word").alias("n_chars"),
            F.size(F.split(F.trim(s), "  ")).alias("n_sym"),
        )
        .groupBy("id")
        .agg(
            F.sum("n_chars").cast("long").alias("n_char_symbols"),
            F.sum("n_sym").cast("long").alias("n_bpe_tokens"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_char_symbols",
            "n_bpe_tokens",
            F.round(F.col("n_bpe_tokens") / F.col("n_char_symbols"), 4).alias(
                "compression"
            ),
        )
    )
