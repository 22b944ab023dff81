"""Distributed BPE tokenizer training (Sennrich et al. 2016) as
relational algebra.

Training a byte-pair-encoding vocabulary is the canonical
pre-training step the reference has no analog for: iteratively find
the most frequent adjacent symbol pair in the corpus and merge it.
The textbook implementation is a single-machine loop over a python
dict; this one is the Spark form, built so each iteration is ONE
map-side-combinable aggregation over the DISTINCT-WORD table (not
the corpus — pair counts are word-pair-counts weighted by word
frequency, so the working set collapses from tokens to vocabulary):

1. Words become boundary-wrapped symbol strings: ``hello`` ->
   ``(h)(e)(l)(l)(o)(_)`` (``_`` is the end-of-word symbol; the
   parens make symbol boundaries explicit so merges can be applied
   with plain string ``replace``).
2. Per iteration: split on ``)(`` -> adjacent symbol pairs ->
   ``groupBy(pair).agg(sum(word_freq))`` -> argmax with a total
   tie-break (freq desc, then left, then right) — one bounded
   ``limit(1)`` collect per iteration, nothing else reaches the
   driver.
3. The winning pair is applied everywhere with
   ``replace(s, '(l)(r)', '(lr)')`` — leftmost non-overlapping
   sequential replacement, which IS greedy BPE merge order, and has
   identical semantics in Spark and DuckDB. That's what makes the
   whole training loop expressible as unrolled relational CTEs: the
   oracle replays every iteration exactly (the kmeans/pagerank
   precedent), no pinned literals needed.

The end-of-word symbol can never appear as the LEFT of a learned
pair (it has no right neighbor inside a word), so applying merges to
a whole concatenated document string never merges across word
boundaries — ``apply_bpe`` exploits that to tokenize documents with
one replace chain instead of a per-word loop.

Scale shape: iterations touch the distinct-word frame (vocabulary-
sized, orders of magnitude smaller than the corpus); ``apply_bpe``
is a pure map over documents. At 100 TB you learn on the word-count
table (one corpus shuffle to build, reusable across iterations) and
apply map-only.

Expression-depth envelope: the chained-``replace`` apply is a SINGLE
SQL expression one ``replace`` deep per merge — exactly what makes
the oracle replay possible, and fine at tens of merges, but a
realistic 8k–32k merge table would push one expression tree past the
analyzer/whole-stage-codegen cliff (the PQ-encode precedent in
SCALE.md). So apply is two-path: at or below ``max_expr_merges``
(default 64) the exact relational form runs; above it, a
rank-priority TRIE tokenizer runs as an Arrow-batched
``mapInPandas`` with a per-batch distinct-word cache — merging the
lowest-rank adjacent pair first is provably identical to applying
merges sequentially in rank order (a merge only ever creates pairs
involving its OWN new symbol, so no earlier-rank pair can appear
later), and the equivalence is pytest-pinned against the expression
path. ``learn_bpe`` bounds its lineage the same way:
``localCheckpoint`` every ``checkpoint_every`` iterations, so
iteration *i* replays at most ``checkpoint_every`` replaces instead
of all *i-1* (O(n) total rewrite work, constant plan depth)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pd_utils_spark.utils import materialize, query_scope

__all__ = [
    "word_counts",
    "learn_bpe",
    "apply_bpe",
    "bpe_token_stats",
    "bpe_vocab",
]

_EOW = "_"


def _norm(col: Column) -> Column:
    return F.trim(F.regexp_replace(F.lower(col), r"[^a-z0-9]+", " "))


def _wrap(col_name: str, eow: str = _EOW) -> str:
    """SQL expression wrapping a word column into its boundary-marked
    symbol string: hello -> (h)(e)(l)(l)(o)(_)."""
    return (
        f"'(' || array_join(transform(sequence(1, length({col_name})),"
        f" i -> substring({col_name}, i, 1)), ')(') || ')({eow})'"
    )


def word_counts(df: DataFrame, textcol: str = "text") -> DataFrame:
    """(word, cnt) over the normalized corpus — the vocabulary-sized
    frame every BPE iteration aggregates instead of the corpus."""
    return (
        df.select(F.explode(F.split(_norm(F.col(textcol)), " ")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _pair_counts(wrapped: DataFrame) -> DataFrame:
    toks = wrapped.select(
        F.split(F.expr("substring(s, 2, length(s)-2)"), r"\)\(").alias("t"),
        "cnt",
    ).filter(F.size("t") >= 2)  # sequence(1, 0) would DESCEND
    pairs = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(t)-1),"
                " i -> struct(element_at(t, i) AS l, element_at(t, i+1) AS r))"
            )
        ).alias("p"),
        "cnt",
    )
    return pairs.groupBy("p.l", "p.r").agg(F.sum("cnt").alias("f"))


def learn_bpe(
    df: DataFrame,
    textcol: str = "text",
    n_merges: int = 10,
    min_freq: int = 1,
    eow: str = _EOW,
    checkpoint_every: int = 8,
    batch_merges: int = 1,
) -> DataFrame:
    """Learn ``n_merges`` BPE merges from the corpus. Returns a
    DataFrame ``(rank, left, right, merged, freq)`` in merge order —
    the vocabulary artifact ``apply_bpe`` consumes. Stops early when
    no pair reaches ``min_freq`` (fewer rows than asked). Ties are
    totally ordered (freq desc, left asc, right asc), so the result
    is deterministic on any partitioning.

    Every aggregation runs over the distinct-word frame (persisted
    once). The rewritten word frame is ``localCheckpoint``-ed every
    ``checkpoint_every`` applied merges so iteration *i* replays at
    most ``checkpoint_every`` chained replaces instead of all *i-1*
    — without it, total rewrite work is O(n_merges²) over the
    vocabulary and the plan grows one expression level per merge
    (the analyzer/codegen cliff at realistic merge counts). Each
    checkpoint materializes the vocabulary-sized frame once (never
    the corpus).

    ``batch_merges`` bounds the DRIVER-SEQUENTIAL iteration floor:
    at 1 (default) each merge is one pair-count aggregation + one
    ``limit(1).collect()`` — a realistic 32k-merge vocabulary is 32k
    sequential Spark jobs no cluster size reduces. At ``m > 1`` each
    round fetches the top ``m+1`` pairs and accepts a SYMBOL-DISJOINT
    PREFIX, **provably identical to the sequential result**:

    - merging symbol-disjoint pairs cannot change each other's counts
      (no occurrence of one pair overlaps an occurrence of the other);
    - the walk down the fetched ranking STOPS at the first candidate
      sharing a symbol with an accepted pair, and the cut frequency
      ``f_cut`` is that candidate's count (or the (m+1)-th's when no
      overlap stops it) — every pair NOT accepted has count <=
      ``f_cut``;
    - any pair a batch merge CREATES, ``(x, l+r)``, occurs only where
      ``(x, l)`` occurred before it, so its count is bounded by a
      pre-merge pair that SHARES a symbol with an accepted pair —
      which is <= ``f_cut``;
    - only candidates with count STRICTLY > ``f_cut`` are kept, so at
      every intermediate step the sequential argmax (freq desc, then
      the string tie-break) is exactly the next accepted pair.

    When the guard accepts nothing (the top pair ties the cut), the
    round falls back to one sequential merge — worst case is the
    ``batch_merges=1`` pace, never a different vocabulary. The
    equivalence is pytest-pinned (batch vs sequential, overlap-heavy
    corpora) and oracle-certified: the ``bpe_learn_batched`` query
    runs this path against the same sequential-replay SQL as
    ``bpe_learn``."""
    if checkpoint_every < 1:
        raise ValueError(f"checkpoint_every must be >= 1: {checkpoint_every}")
    if batch_merges < 1:
        raise ValueError(f"batch_merges must be >= 1: {batch_merges}")
    spark = df.sparkSession
    wc = word_counts(df, textcol)
    with query_scope():
        base = materialize(wc.select(F.expr(_wrap("w", eow)).alias("s"), "cnt"))
        merges: list[tuple[int, str, str, int]] = []
        cur = base
        while len(merges) < n_merges:
            m = min(batch_merges, n_merges - len(merges))
            top = (
                _pair_counts(cur)
                .orderBy(F.desc("f"), "l", "r")
                .limit(m + 1 if m > 1 else 1)
                .collect()
            )
            if not top or top[0]["f"] < min_freq:
                break
            if m == 1:
                accepted = [top[0]]
            else:
                accepted = []
                used: set = set()
                f_cut = None
                for t in top:
                    if (
                        len(accepted) == m
                        or t["l"] in used
                        or t["r"] in used
                        or t["f"] < min_freq
                    ):
                        f_cut = t["f"]
                        break
                    accepted.append(t)
                    used.add(t["l"])
                    used.add(t["r"])
                if f_cut is not None:
                    # counts sort desc, so the > f_cut survivors stay
                    # a prefix of the accepted walk
                    accepted = [t for t in accepted if t["f"] > f_cut]
                if not accepted:
                    accepted = [top[0]]  # sequential fallback
            for t in accepted:
                l, r, f = t["l"], t["r"], int(t["f"])
                merges.append((len(merges) + 1, l, r, f))
                cur = cur.select(
                    F.expr(f"replace(s, '({l})({r})', '({l}{r})')").alias(
                        "s"
                    ),
                    "cnt",
                )
                if len(merges) % checkpoint_every == 0:
                    cur = materialize(cur, stable=True, eager=True)
        return spark.createDataFrame(
            [(rank, l, r, l + r, f) for rank, l, r, f in merges],
            "rank int, left string, right string, merged string, freq bigint",
        )


def apply_bpe(
    df: DataFrame,
    merges: DataFrame | list,
    textcol: str = "text",
    out: str = "bpe_tokens",
    eow: str = _EOW,
    method: str = "auto",
    max_expr_merges: int = 64,
) -> DataFrame:
    """Tokenize documents with a learned merge table — map-only either
    way, two physical paths (see the module docstring's depth note):

    - ``"expr"``: normalized words are boundary-wrapped, concatenated,
      rewritten by every merge in rank order (one ``replace`` each),
      and split back into the final symbol array (``out``). Exact
      relational form, oracle-replayable — and one expression level
      deep PER MERGE, so it is gated to small merge tables.
    - ``"trie"``: Arrow-batched ``mapInPandas`` rank-priority
      tokenizer (merge the lowest-rank adjacent pair, leftmost first
      — provably identical output) with a per-batch distinct-word
      cache. Constant plan depth at any merge count.

    ``"auto"`` picks ``"expr"`` at or below ``max_expr_merges`` pairs
    and ``"trie"`` above. The end-of-word symbol is never the left of
    a merge, so the concatenated expr form cannot merge across word
    boundaries. Documents with no alphanumeric content get an empty
    array; null text stays null."""
    pairs = _merge_pairs(merges)
    if method not in ("auto", "expr", "trie"):
        raise ValueError(f"unknown method: {method!r}")
    if method == "expr" or (
        method == "auto" and len(pairs) <= max_expr_merges
    ):
        return _apply_bpe_expr(df, pairs, textcol, out, eow)
    return _apply_bpe_pandas(df, pairs, textcol, out, eow)


def _merge_pairs(merges: DataFrame | list) -> list:
    if isinstance(merges, DataFrame):
        rows = merges.orderBy("rank").collect()
        return [(r["left"], r["right"]) for r in rows]
    return [(m[0], m[1]) for m in merges]


def _merge_word_symbols(word: str, ranks: dict, eow: str) -> list:
    """Tokenize one word: merge the LOWEST-RANK adjacent symbol pair,
    leftmost occurrence first, until no learnable pair remains. This
    is exactly sequential rank-order application (the ``replace``
    chain): a merge replaces two symbols with one NEW symbol, so
    every pair it creates involves that new symbol — which only
    occurs in merges learned LATER — hence no earlier-rank pair can
    ever (re)appear once its pass is done."""
    syms = list(word) + [eow]
    while len(syms) >= 2:
        best_rank = None
        best_i = -1
        for i in range(len(syms) - 1):
            rk = ranks.get((syms[i], syms[i + 1]))
            if rk is not None and (best_rank is None or rk < best_rank):
                best_rank, best_i = rk, i
        if best_rank is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def _apply_bpe_pandas(
    df: DataFrame, pairs: list, textcol: str, out: str, eow: str
) -> DataFrame:
    """The constant-depth apply path: one ``mapInPandas`` pass,
    normalization replicated from ``_norm`` in Python (pinned equal to
    the expr path by pytest), per-batch cache keyed by distinct word
    so each word tokenizes once per Arrow batch."""
    import re as _re

    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    ranks = {(l, r): i for i, (l, r) in enumerate(pairs)}
    fields = [f for f in df.schema.fields if f.name != out]
    schema = StructType(
        fields + [StructField(out, ArrayType(StringType()), True)]
    )
    nonword = _re.compile(r"[^a-z0-9]+")

    def gen(batches):
        cache: dict = {}
        for pdf in batches:
            col = []
            for text in pdf[textcol]:
                if text is None:
                    col.append(None)
                    continue
                norm = nonword.sub(" ", text.lower()).strip()
                toks: list = []
                for w in norm.split(" "):
                    if not w:
                        continue
                    t = cache.get(w)
                    if t is None:
                        t = _merge_word_symbols(w, ranks, eow)
                        cache[w] = t
                    toks.extend(t)
                col.append(toks)
            pdf = pdf[[f.name for f in fields]].copy()
            pdf[out] = col
            yield pdf

    return df.mapInPandas(gen, schema)


def _apply_bpe_expr(
    df: DataFrame, pairs: list, textcol: str, out: str, eow: str
) -> DataFrame:
    norm = _norm(F.col(textcol))
    with_words = df.withColumn(
        "__bpe_words__",
        F.filter(F.split(norm, " "), lambda w: F.length(w) > 0),
    )
    wrapped = (
        "array_join(transform(__bpe_words__, w -> "
        + _wrap("w", eow)
        + "), '')"
    )
    expr = wrapped
    for l, r in pairs:
        expr = f"replace({expr}, '({l})({r})', '({l}{r})')"
    rewritten = with_words.withColumn("__bpe_s__", F.expr(expr))
    toks = (
        "CASE WHEN size(__bpe_words__) = 0"
        " THEN cast(array() AS array<string>)"
        " ELSE split(substring(__bpe_s__, 2, length(__bpe_s__) - 2),"
        r" '\\)\\(') END"
    )
    return (
        rewritten.withColumn(out, F.expr(toks))
        .drop("__bpe_words__", "__bpe_s__")
    )


def bpe_vocab(
    df: DataFrame,
    merges: DataFrame | list,
    textcol: str = "text",
    eow: str = _EOW,
    method: str = "auto",
    max_expr_merges: int = 64,
) -> DataFrame:
    """The trained vocabulary: every symbol the tokenizer emits over
    this corpus with its total occurrence count — ``(symbol, n)``.
    Computed over the distinct-word table weighted by word frequency
    (one corpus shuffle for the counts, vocabulary-sized everything
    after), so it is exactly the token distribution ``apply_bpe``
    would produce over the corpus. The artifact you ship with the
    merges: its size is the model's vocab size, its tail is the
    byte-fallback pressure. Same two-path depth gate as
    :func:`apply_bpe` (``method``/``max_expr_merges``) — the trie
    path tokenizes the DISTINCT-WORD frame (each word once), so even
    the Python pass is vocabulary-sized, never corpus-sized."""
    pairs = _merge_pairs(merges)
    if method not in ("auto", "expr", "trie"):
        raise ValueError(f"unknown method: {method!r}")
    wc = word_counts(df, textcol)
    if method == "expr" or (
        method == "auto" and len(pairs) <= max_expr_merges
    ):
        expr = _wrap("w", eow)
        for l, r in pairs:
            expr = f"replace({expr}, '({l})({r})', '({l}{r})')"
        rewritten = wc.select(F.expr(expr).alias("__s__"), "cnt")
        toks = rewritten.select(
            F.explode(
                F.expr(
                    r"split(substring(__s__, 2, length(__s__) - 2), '\\)\\(')"
                )
            ).alias("symbol"),
            "cnt",
        )
    else:
        syms = _apply_bpe_pandas(wc, pairs, "w", "__syms__", eow)
        toks = syms.select(F.explode("__syms__").alias("symbol"), "cnt")
    return toks.groupBy("symbol").agg(F.sum("cnt").cast("bigint").alias("n"))


def bpe_token_stats(
    df: DataFrame,
    merges: DataFrame | list,
    byvars: str | list = "source",
    textcol: str = "text",
    eow: str = _EOW,
) -> DataFrame:
    """Compression diagnostic per group: documents tokenized with and
    without the merges — ``n_docs``, initial symbol count (chars +
    one EOW per word), BPE token count, and the compression ratio.
    The number a tokenizer-training run is judged by."""
    from pd_utils_spark.utils import to_list

    byvars_l = to_list(byvars)
    t = apply_bpe(df, merges, textcol=textcol, out="__bpe__", eow=eow)
    norm = _norm(F.col(textcol))
    words = F.filter(F.split(norm, " "), lambda w: F.length(w) > 0)
    initial = F.aggregate(
        F.transform(words, lambda w: F.length(w) + 1),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    per_doc = t.select(
        *byvars_l,
        initial.alias("__init__"),
        F.size("__bpe__").alias("__bpe_n__"),
    )
    return per_doc.groupBy(*byvars_l).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("__init__").cast("bigint").alias("n_symbols_initial"),
        F.sum("__bpe_n__").cast("bigint").alias("n_tokens_bpe"),
        F.round(
            F.sum("__bpe_n__") / F.sum("__init__"), 6
        ).alias("compression"),
    )
