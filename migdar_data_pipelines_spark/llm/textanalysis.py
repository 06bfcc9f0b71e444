"""Text-analysis operators over a document column: token counting, quality
scoring, language ID, fingerprinting.

All pure column expressions (JVM-side, whole-stage codegen) — at 100 TB these
run inside the scan stage with zero shuffle; every one generalizes the
reference's scalar text ops (C5-C9, C16).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# BPE-ish pre-tokenizer: letter runs | single digits | punctuation glyphs
# (GPT-2-style contraction/space handling stripped down to a portable regex).
# The negated class spells out RE2's \s set — Java \s additionally includes
# \x0b, which would silently drop vertical tab from the punct-glyph count on
# the Spark side only (same contract as WORD_SPLIT_RE below).
BPE_ISH_RE = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9 \t\n\f\r]"

# Cross-engine whitespace contract: RE2 (DuckDB string_split_regex) defines
# \s as [\t\n\f\r ] — NO vertical tab \x0b — while Java \s includes \x0b, so
# the Spark side uses the explicit RE2 set to keep word counts identical in
# both engines (ADVICE r8).
WORD_SPLIT_RE = r"[ \t\n\f\r]+"


def words(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    arr = F.split(F.trim(c), WORD_SPLIT_RE)
    return F.filter(arr, lambda x: x != "")


def token_stats(col: Column | str) -> dict[str, Column]:
    """Whitespace word count + BPE-ish regex token count + char count."""
    c = F.col(col) if isinstance(col, str) else col
    return {
        "n_chars": F.length(c).cast("long"),
        "n_words": F.size(words(c)).cast("long"),
        "n_tokens": F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_RE), 0)).cast("long"),
    }


STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


# quality_score: counts are clamped at this ceiling so every intermediate
# of the exact basis-point arithmetic fits int64 (a = 2e4*P + D <= 8.0004e18
# < 2^63-1); a >1 MB single document's quality is saturated anyway
QUALITY_CLAMP = 1_000_000


def quality_score(col: Column | str) -> Column:
    """Heuristic quality in [0,1]: blends length, mean word length, stopword
    ratio and punctuation ratio (the classic Gopher/C4-style filters folded
    into one score). Deterministic, SQL-expressible, 4 decimal places.

    The score is computed in EXACT INTEGER basis points (the sf0.1 parity
    gate caught the old float form diverging cross-engine, PARITY r12): the
    four terms share the common denominator D = 400*n*c, so

        P = n*c*min(n,100) + (100 if 3n <= c <= 10n else 50)*n*c
            + 100*c*min(5*stop, n) + 100*n*max(0, c - 5*punct)
        bp = floor((2*10^4*P + D) / (2*D))        # exact half-up round
        quality = bp / 10^4

    with n words / c chars clamped at QUALITY_CLAMP so a = 2e4*P + D stays
    inside int64. The floor division is evaluated as (a - pmod(a, b)) / b
    with the final division in DECIMAL(38,0) — the quotient is an exact
    integer there, so decimal rounding can't bite. The mean-word-length
    band test is the exact integer comparison 3n <= c <= 10n. Two engines
    doing identical integer arithmetic can't disagree — unlike the old
    round(double, 4), which flipped on exact .00005 boundaries (dyadic
    weights over rational terms make those REACHABLE, and sf0.1 reached
    them). Empty docs keep the old limits: no chars -> 0.375; words-free
    text -> 0.25*(0.5 + punct term)."""
    c = F.col(col) if isinstance(col, str) else col
    ws = words(c)
    clamp = F.lit(QUALITY_CLAMP).cast("long")
    n = F.least(F.size(ws).cast("long"), clamp)
    ch = F.least(F.length(c).cast("long"), clamp)
    st = F.size(F.filter(ws, lambda x: F.lower(x).isin(*STOPWORDS))).cast("long")
    # explicit RE2 \s set (no \x0b) — keeps punct count engine-identical
    pu = F.size(
        F.regexp_extract_all(c, F.lit(r"[^A-Za-z0-9 \t\n\f\r]"), 0)
    ).cast("long")

    def half_up_div(a: Column, b: Column) -> Column:
        # floor((a)/(b)) for positive longs via pmod; the decimal division's
        # quotient is an exact integer, so its scale rounding is inert
        dec = "decimal(38,0)"
        exact = a - F.pmod(a, b)
        return (exact.cast(dec) / b.cast(dec)).cast("long")

    t2w = F.when(
        (F.lit(3) * n <= ch) & (ch <= F.lit(10) * n), F.lit(100)
    ).otherwise(F.lit(50)).cast("long")
    punct_num = F.greatest(F.lit(0).cast("long"), ch - F.lit(5) * pu)
    p_gen = (
        n * ch * F.least(n, F.lit(100).cast("long"))
        + t2w * n * ch
        + F.lit(100).cast("long") * ch * F.least(F.lit(5) * st, n)
        + F.lit(100).cast("long") * n * punct_num
    )
    d_gen = F.lit(400).cast("long") * n * ch
    # words-free text (n = 0): terms collapse to 0 + 1/2 + 0 + punct/c
    p_nw = F.lit(50).cast("long") * ch + F.lit(100).cast("long") * punct_num
    d_nw = F.lit(400).cast("long") * ch
    bp = (
        F.when(c.isNull(), F.lit(None).cast("long"))  # least() skips NULLs
        .when(ch == 0, F.lit(3750).cast("long"))
        .when(
            n == 0,
            half_up_div(F.lit(20000).cast("long") * p_nw + d_nw, F.lit(2) * d_nw),
        )
        .otherwise(
            half_up_div(F.lit(20000).cast("long") * p_gen + d_gen, F.lit(2) * d_gen)
        )
    )
    return bp.cast("double") / F.lit(10000.0)


def quality_bp_sql(words_expr: str, text_expr: str = "text") -> str:
    """DuckDB mirror of ``quality_score``'s exact basis points as a single
    scalar expression over a words-list expression and the text column —
    the single source of truth every oracle inlines (four queries carry
    this formula; hand-divergence is how the old float form rotted)."""
    n = f"least(len({words_expr}), {QUALITY_CLAMP})"
    ch = f"least(len({text_expr}), {QUALITY_CLAMP})"
    st = (
        f"len(list_filter({words_expr}, x -> lower(x) IN "
        "('the','a','of','and','to','in','is','it')))"
    )
    pu = f"len(regexp_extract_all({text_expr}, '[^A-Za-z0-9 \\t\\n\\f\\r]'))"
    punct_num = f"greatest(0, {ch} - 5 * {pu})"
    t2w = f"(CASE WHEN 3 * {n} <= {ch} AND {ch} <= 10 * {n} THEN 100 ELSE 50 END)"
    p_gen = (
        f"({n} * {ch} * least({n}, 100) + {t2w} * {n} * {ch}"
        f" + 100 * {ch} * least(5 * {st}, {n}) + 100 * {n} * {punct_num})"
    )
    p_nw = f"(50 * {ch} + 100 * {punct_num})"
    return (
        f"(CASE WHEN {ch} = 0 THEN CAST(3750 AS BIGINT) "
        f"WHEN {n} = 0 THEN CAST((20000 * {p_nw} + 400 * {ch}) "
        f"// (2 * 400 * {ch}) AS BIGINT) "
        f"ELSE CAST((CAST(20000 AS BIGINT) * {p_gen} + 400 * {n} * {ch}) "
        f"// (CAST(2 AS BIGINT) * 400 * {n} * {ch}) AS BIGINT) END)"
    )


def quality_sql(words_expr: str, text_expr: str = "text") -> str:
    """The 4dp quality as DuckDB DOUBLE (bp / 10^4 — exact, no round())."""
    return f"(CAST({quality_bp_sql(words_expr, text_expr)} AS DOUBLE) / 10000.0)"


# tiny per-language marker lists (n-gram heuristic reduced to word unigrams —
# deterministic and portable; swap for real profiles in production)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is"),
    "es": ("el", "la", "de", "que"),
    "fr": ("le", "la", "et", "les"),
    "de": ("der", "die", "und", "das"),
}


def language_id(col: Column | str) -> Column:
    """Marker-word language ID: argmax over per-language hit counts, ties and
    zero-evidence -> 'und'. The structure (score per language -> argmax) is
    the real n-gram-profile algorithm; the profiles are pluggable."""
    ws = words(col)

    def marker_hits(markers: tuple[str, ...]) -> Column:
        # one-arg lambda only: pyspark treats a 2-param lambda as (value, idx)
        return F.size(F.filter(ws, lambda x: F.lower(x).isin(*markers)))

    scores = {lang: marker_hits(markers) for lang, markers in LANG_MARKERS.items()}
    best = F.greatest(*scores.values())
    # deterministic tie-break: first language in declaration order wins
    expr = None
    for lang in LANG_MARKERS:
        cond = (scores[lang] == best) & (best > 0)
        expr = F.when(cond, F.lit(lang)) if expr is None else expr.when(cond, F.lit(lang))
    return expr.otherwise(F.lit("und"))


def doc_fingerprint(col: Column | str) -> Column:
    """OpenRefine-style fingerprint: md5 of the sorted distinct lowercased
    words — canonicalizes word order and duplication for clustering
    (generalizes C17's md5 doc ids, datasets.py:430-436)."""
    ws = words(col)
    canon = F.array_join(F.array_sort(F.array_distinct(F.transform(ws, F.lower))), " ")
    return F.md5(canon)


def unigram_lm_scores(df, text_col: str, id_col: str):
    """CCNet-style LM quality scoring (Wenzek et al. 2020): score each
    document by its per-token negative log-likelihood under a unigram
    language model estimated from the corpus itself, add-one smoothed:

        P(w) = (count(w) + 1) / (total_tokens + vocab_size)
        nll(doc) = avg over tokens of -ln P(w)

    CCNet ranks Common Crawl documents by KenLM perplexity and keeps the
    low-perplexity head; the unigram form is the engine-native rung of that
    ladder (the probabilities are exact rationals from two corpus
    aggregates, so any engine reproduces them bit-for-bit; only the final
    ln/avg is floating point, rounded for the contract surface).

    Shape at scale: token explode -> map-side-combinable word-count
    aggregate (vocab-sized result), a 1-row (total, vocab) aggregate
    cross-joined in, and the count table joined back to tokens — explicitly
    broadcast here since real vocabularies (1e6-1e8 terms) fit executor
    memory; beyond that, drop the hint and let the shuffle join on the word
    key do it. Per-doc avg is again map-side combinable. No sorts.
    """
    from pyspark.sql import DataFrame, functions as F  # noqa: F811

    from ..operators.caching import scoped_persist

    # toks feeds both the vocabulary aggregate and the scoring join; persist
    # so the corpus split+explode runs once per invocation
    toks = scoped_persist(
        df.select(F.col(id_col).alias("id"), F.explode(words(text_col)).alias("w"))
    )
    counts = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cw"))
    totals = counts.agg(
        F.sum("cw").alias("total_toks"), F.count(F.lit(1)).alias("vocab")
    )
    model = F.broadcast(counts.crossJoin(F.broadcast(totals)))
    scored = toks.join(model, "w")
    nll = -F.log((F.col("cw") + 1) / (F.col("total_toks") + F.col("vocab")))
    return (
        scored.groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(F.avg(nll), 4).alias("nll"),
        )
    )


def perplexity_buckets(
    scored,
    nll_col: str = "nll",
    tokens_col: str = "n_tokens",
    id_col: str = "id",
):
    """CCNet head/middle/tail bucketing (Wenzek et al. 2020 §4.3): order
    documents by LM score ascending (best first) and split the corpus into
    three buckets of equal TOKEN mass — CCNet trains on the head (and often
    the middle) and drops the tail. Cut rule, all-integer so both engines
    agree exactly: a document belongs to the bucket its token range STARTS
    in — with ``start = cum - n_tokens`` (the mass strictly before it in
    (nll, id) order) and ``tot`` the corpus total, head iff
    ``3*start < tot``, middle iff ``3*start < 2*tot``, else tail. The
    exclusive-start rule (the "which shard does this offset fall in"
    convention) keeps the best-scoring document in head even when it alone
    spans a bucket boundary.

    Shape: the running sum is ``operators/windows.py::running_totals``,
    one window in (nll, id) order, plus ONE broadcast total row.
    The (nll, id) order key is deterministic because nll is the 4dp
    contract-rounded score both engines already reproduce bit-for-bit.

    Returns (id, n_tokens, nll, cum_tokens, bucket)."""
    from pyspark.sql import functions as F  # noqa: F811

    from ..operators.windows import running_totals

    total = scored.agg(F.sum(tokens_col).cast("long").alias("__tot"))
    ranked = running_totals(
        scored,
        tokens_col,
        [(nll_col, "asc"), (id_col, "asc")],
        cum_col="cum_tokens",
    )
    start3 = 3 * (F.col("cum_tokens") - F.col(tokens_col))
    return ranked.crossJoin(F.broadcast(total)).select(
        F.col(id_col),
        F.col(tokens_col),
        F.col(nll_col),
        F.col("cum_tokens").cast("long").alias("cum_tokens"),
        F.when(start3 < F.col("__tot"), F.lit("head"))
        .when(start3 < 2 * F.col("__tot"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(col: Column | str) -> dict[str, Column]:
    """The published Gopher document-quality rules (Rae et al. 2021 §A1.1)
    as per-rule booleans plus their counters — the rule set web-corpus
    pipelines apply verbatim, kept ENGINE-EXACT by doing every ratio test as
    a CROSS-MULTIPLIED INTEGER comparison (``10*n_sym <= n_words`` instead of
    ``n_sym/n_words <= 0.1``): integer counts compare identically in any
    engine, where a float ratio at the boundary depends on division rounding.

    Rules: word count in [50, 100000]; mean word length in [3, 10]
    (3*n_words <= word_chars <= 10*n_words); symbol-to-word ratio <= 0.1
    applied to EACH symbol type separately — '#' characters and ellipses
    (ASCII '...' occurrences plus the Unicode HORIZONTAL ELLIPSIS U+2026),
    per the paper's per-symbol phrasing; bullet-starting lines <= 90%;
    ellipsis-ending lines <= 30% (either ellipsis form); >= 80% of words
    contain an alphabetic character; >= 2 distinct-occurrence stopword
    hits. ``keep`` is the AND. All scan-local expressions — at 100 TB this
    is a free rider on any scan.
    """
    c = F.col(col) if isinstance(col, str) else col
    ws = words(c)
    n_words = F.size(ws).cast("long")
    word_chars = F.aggregate(
        F.transform(ws, lambda x: F.length(x).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n_hash = (
        F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))
    ).cast("long")
    # '...' occurrences (greedy non-overlapping replace, same in any engine)
    # plus the single-char Unicode ellipsis
    n_ellipsis = (
        (F.length(c) - F.length(F.replace(c, F.lit("..."), F.lit("")))) / 3
        + (F.length(c) - F.length(F.replace(c, F.lit("…"), F.lit(""))))
    ).cast("long")
    lines = F.filter(F.split(c, "\n"), lambda x: F.trim(x) != "")
    n_lines = F.size(lines).cast("long")
    n_bullet = F.size(
        F.filter(
            lines,
            lambda x: F.substring(F.ltrim(x), 1, 1).isin("-", "*"),
        )
    ).cast("long")
    n_ell_end = F.size(
        F.filter(
            lines,
            lambda x: F.rtrim(x).endswith("...")
            | F.rtrim(x).endswith("…"),
        )
    ).cast("long")
    n_alpha_words = F.size(
        F.filter(ws, lambda x: x.rlike("[A-Za-z]"))
    ).cast("long")
    n_stop = F.size(
        F.filter(ws, lambda x: F.lower(x).isin(*GOPHER_STOPWORDS))
    ).cast("long")

    rules = {
        "r_word_count": (n_words >= 50) & (n_words <= 100_000),
        "r_mean_word_len": (word_chars >= 3 * n_words)
        & (word_chars <= 10 * n_words),
        "r_symbol_ratio": (10 * n_hash <= n_words)
        & (10 * n_ellipsis <= n_words),
        "r_bullet_lines": 10 * n_bullet <= 9 * n_lines,
        "r_ellipsis_lines": 10 * n_ell_end <= 3 * n_lines,
        "r_alpha_words": 5 * n_alpha_words >= 4 * n_words,
        "r_stopwords": n_stop >= 2,
    }
    keep = None
    for r in rules.values():
        keep = r if keep is None else keep & r
    return {
        "n_words": n_words,
        "word_chars": word_chars,
        "n_hash": n_hash,
        "n_ellipsis": n_ellipsis,
        "n_lines": n_lines,
        "n_bullet_lines": n_bullet,
        "n_ellipsis_lines": n_ell_end,
        "n_alpha_words": n_alpha_words,
        "n_stopwords": n_stop,
        **rules,
        "keep": keep,
    }


# Gopher repetition-rule thresholds (Rae et al. 2021 §A1.1, the "repetitious
# text" table): (rule key, threshold numerator out of 100). Shared Python
# literals so the Spark expressions and any generated SQL compare the exact
# same integers.
GOPHER_REP_THRESHOLDS = {
    "dup_line_frac": 30,
    "dup_line_char_frac": 20,
    "dup_para_frac": 30,
    "dup_para_char_frac": 20,
    "top_2gram_char_frac": 20,
    "top_3gram_char_frac": 18,
    "top_4gram_char_frac": 16,
    "dup_5gram_frac": 15,
    "dup_6gram_frac": 14,
    "dup_7gram_frac": 13,
    "dup_8gram_frac": 12,
    "dup_9gram_frac": 11,
    "dup_10gram_frac": 10,
}


def gopher_repetition(df, text_col: str, id_col: str):
    """The OTHER half of the published Gopher quality filter (Rae et al.
    2021 §A1.1, "repetitious text") — ``gopher_rules`` covers the
    quality-signal table, this covers the 13 repetition rules: duplicate
    line / paragraph fractions (count and character), top-{2,3,4}-gram
    character fractions, and duplicated-{5..10}-gram coverage fractions.
    One boolean per rule plus its integer counters and ``keep`` = AND.

    Every ratio test is a CROSS-MULTIPLIED INTEGER comparison
    (``100 * dup <= thr * total``), so the booleans are engine-exact.
    Deterministic definitional choices (the paper leaves these open; every
    published re-implementation picks its own — documented here so the SQL
    mirror and any other engine agree bit-for-bit):
      * lines split on '\\n', paragraphs on '\\n{2,}', blank entries
        dropped; a duplicated line/paragraph contributes ALL its
        occurrences to the char numerator (lines cannot overlap);
      * top n-gram = highest occurrence count, ties broken by
        lexicographically smallest gram; char numerator = count * len(gram)
        over len(text);
      * duplicated n-gram coverage counts each WORD POSITION covered by at
        least one >1-occurrence n-gram ONCE (interval union in word space
        — the paper's "careful not to count characters twice" clause,
        measured against n_words rather than chars: overlap-free and
        integer-exact without a char-offset model).

    Shape at scale: lines/paragraphs/grams explode into (id, key) rows
    collapsed by map-side-combinable groupBys; the interval union is a
    per-(doc, n) gaps-and-islands window — partition keys are (id, n), so
    parallelism is per-document, never a global sort. Returns one row per
    input document.
    """
    from pyspark.sql import DataFrame, Window

    from ..operators.caching import scoped_persist

    # Widen the narrow (id, text) frame to full parallelism BEFORE the word
    # split and shingle construction: the words() pass and the 9 per-n
    # positional zip chains are interpreted per-row work that otherwise
    # inherits the file split count (a 6 MB parquet = 4 splits — measured
    # 315s at sf1 with 4-way stages on a 8-thread session; the row-level
    # exchange of ~30 MB of text is noise next to it). widen_scan is
    # conditional: on a real cluster big inputs arrive well-split and no
    # exchange is added; this guards the small-file/hot-operator combination.
    from ..operators.scale import widen_scan

    d = scoped_persist(
        widen_scan(
            df.select(F.col(id_col), F.col(text_col)), id_col
        ).select(
            F.col(id_col).alias("id"),
            F.col(text_col).alias("__t"),
            words(text_col).alias("__ws"),
        )
    )
    ids = d.select(
        "id",
        F.length("__t").cast("long").alias("text_chars"),
        F.size("__ws").cast("long").alias("n_words"),
    )

    def _seg_stats(split_re: str, prefix: str) -> DataFrame:
        segs = d.select(
            "id",
            F.explode(
                F.filter(
                    F.split("__t", split_re), lambda x: F.trim(x) != ""
                )
            ).alias("seg"),
        )
        grp = segs.groupBy("id", "seg").agg(F.count(F.lit(1)).alias("c"))
        return grp.groupBy("id").agg(
            F.sum("c").cast("long").alias(f"{prefix}_total"),
            (F.sum("c") - F.count(F.lit(1)))
            .cast("long")
            .alias(f"{prefix}_dup"),
            F.sum(F.col("c") * F.length("seg"))
            .cast("long")
            .alias(f"{prefix}_chars"),
            F.sum(
                F.when(F.col("c") > 1, F.col("c") * F.length("seg")).otherwise(
                    0
                )
            )
            .cast("long")
            .alias(f"{prefix}_dup_chars"),
        )

    lines = _seg_stats(r"\n", "line")
    paras = _seg_stats(r"\n{2,}", "para")

    from .dedup import positional_shingles_of_words

    def _gram_rows(ns: list[int]) -> DataFrame:
        arrays = [
            F.transform(
                F.slice(
                    positional_shingles_of_words(F.col("__ws"), n),
                    F.lit(1),
                    F.greatest(F.size("__ws") - n + 1, F.lit(0)),
                ),
                lambda g: F.struct(F.lit(n).alias("n"), g.alias("gram")),
            )
            for n in ns
        ]
        return d.select(
            "id", F.posexplode(F.flatten(F.array(*arrays))).alias("gpos", "g")
        ).select("id", F.col("g.n").alias("n"), F.col("g.gram").alias("gram"), "gpos")

    # top-{2,3,4}-gram char mass: occurrence count of the most frequent
    # gram (ties -> smallest gram) times its length
    tg = _gram_rows([2, 3, 4])
    tcnt = tg.groupBy("id", "n", "gram").agg(F.count(F.lit(1)).alias("c"))
    tmax = tcnt.groupBy("id", "n").agg(F.max("c").alias("mx"))
    top = (
        tcnt.join(tmax, ["id", "n"])
        .filter(F.col("c") == F.col("mx"))
        .groupBy("id", "n")
        .agg((F.max("mx") * F.length(F.min("gram"))).cast("long").alias("tc"))
        .groupBy("id")
        .pivot("n", [2, 3, 4])
        .agg(F.first("tc"))
        .select(
            "id",
            F.col("2").alias("top2_chars"),
            F.col("3").alias("top3_chars"),
            F.col("4").alias("top4_chars"),
        )
    )

    # duplicated-{5..10}-gram coverage: word positions covered by any
    # >1-occurrence n-gram, counted once (gaps-and-islands interval union).
    # Gram IDENTITY is all this branch needs (no length, no tie-break), so
    # the string is folded to an 8-byte xxhash64 IN THE PROJECTION BELOW the
    # shuffle — the duplicated_spans move. At sf1 (100k docs incl. the
    # tripled variant) the six n-values explode to ~5e7 rows; carrying the
    # 5-10-word gram strings through the groupBy + join sort was ~90 B/row
    # and OOM'd an 8 GB local[8] sorter (PARITY r13 sf1); the hash key is
    # ~24 B/row and the same plan fits comfortably. Collision floor at
    # 8 bytes is negligible for a dup signal (the duplicated_spans
    # rationale; the md5-hashing oracle is collision-independent anyway).
    ns_dup = [5, 6, 7, 8, 9, 10]
    dg = _gram_rows(ns_dup).select(
        "id", "n", F.xxhash64("gram").alias("gram"), "gpos"
    )
    # gpos is the index within the flattened multi-n array; recover the
    # in-sequence position per (id, n) by ranking gpos inside the group
    # (flatten preserves order, so rank order == gram position order)
    dcnt = dg.groupBy("id", "n", "gram").agg(F.count(F.lit(1)).alias("c"))
    dpos = dg.join(dcnt.filter(F.col("c") > 1), ["id", "n", "gram"])
    # gpos is the index in the flattened multi-n array; each n's sub-array
    # is contiguous there, so within an (id, n) group gpos equals the true
    # word position up to a constant shift — and interval-union length is
    # shift-invariant, so the island arithmetic can run on gpos directly
    w_prev = (
        Window.partitionBy("id", "n")
        .orderBy("gpos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cov = (
        dpos.withColumn("end", F.col("gpos") + F.col("n") - 1)
        .withColumn("prev_end", F.max("end").over(w_prev))
        .withColumn(
            "contrib",
            F.greatest(
                F.col("end")
                - F.greatest(
                    F.col("gpos") - 1, F.coalesce("prev_end", F.lit(-1))
                ),
                F.lit(0),
            ),
        )
        .groupBy("id", "n")
        .agg(F.sum("contrib").cast("long").alias("cw"))
        .groupBy("id")
        .pivot("n", ns_dup)
        .agg(F.first("cw"))
        .select(
            "id",
            *[
                F.col(str(n)).alias(f"dup{n}gram_words")
                for n in ns_dup
            ],
        )
    )

    out = (
        ids.join(lines, "id", "left")
        .join(paras, "id", "left")
        .join(top, "id", "left")
        .join(cov, "id", "left")
    )
    z = lambda c: F.coalesce(F.col(c), F.lit(0)).cast("long")  # noqa: E731
    counters = {
        "text_chars": F.col("text_chars"),
        "n_words": F.col("n_words"),
        "n_lines": z("line_total"),
        "n_dup_lines": z("line_dup"),
        "line_chars": z("line_chars"),
        "dup_line_chars": z("line_dup_chars"),
        "n_paras": z("para_total"),
        "n_dup_paras": z("para_dup"),
        "para_chars": z("para_chars"),
        "dup_para_chars": z("para_dup_chars"),
        "top2_chars": z("top2_chars"),
        "top3_chars": z("top3_chars"),
        "top4_chars": z("top4_chars"),
        **{f"dup{n}gram_words": z(f"dup{n}gram_words") for n in ns_dup},
    }
    t = GOPHER_REP_THRESHOLDS
    rules = {
        "r_dup_line_frac": 100 * counters["n_dup_lines"]
        <= t["dup_line_frac"] * counters["n_lines"],
        "r_dup_line_chars": 100 * counters["dup_line_chars"]
        <= t["dup_line_char_frac"] * counters["line_chars"],
        "r_dup_para_frac": 100 * counters["n_dup_paras"]
        <= t["dup_para_frac"] * counters["n_paras"],
        "r_dup_para_chars": 100 * counters["dup_para_chars"]
        <= t["dup_para_char_frac"] * counters["para_chars"],
        "r_top_2gram": 100 * counters["top2_chars"]
        <= t["top_2gram_char_frac"] * counters["text_chars"],
        "r_top_3gram": 100 * counters["top3_chars"]
        <= t["top_3gram_char_frac"] * counters["text_chars"],
        "r_top_4gram": 100 * counters["top4_chars"]
        <= t["top_4gram_char_frac"] * counters["text_chars"],
        **{
            f"r_dup_{n}gram": 100 * counters[f"dup{n}gram_words"]
            <= t[f"dup_{n}gram_frac"] * counters["n_words"]
            for n in ns_dup
        },
    }
    keep = None
    for r in rules.values():
        keep = r if keep is None else keep & r
    return out.select(
        "id",
        *[c.alias(name) for name, c in counters.items()],
        *[c.alias(name) for name, c in rules.items()],
        keep.alias("keep"),
    )


def gopher_repetition_sql(docs_sql: str) -> str:
    """Generated DuckDB mirror of ``gopher_repetition`` (the ``winnow_sql``
    playbook: the SQL is derived from the SAME threshold literals —
    ``GOPHER_REP_THRESHOLDS`` — so the two engines compare identical
    integers). ``docs_sql`` must yield ``(id, text)``.

    Mirrored conventions, in the same terms as the operator docstring:
    lines/paragraphs split + blank-dropped identically; the top-n-gram char
    mass uses ``max(count) * len(min(gram among the tied))``; the
    duplicated-n-gram coverage re-runs the gaps-and-islands interval union
    on TRUE word positions — the operator runs it on flattened-array
    offsets, which are per-(doc, n) shifts of the true positions, and
    interval-union length is shift-invariant, so the counters agree
    exactly.
    """
    t = GOPHER_REP_THRESHOLDS
    ns_dup = [5, 6, 7, 8, 9, 10]
    top_cols = ",\n         ".join(
        f"CAST(coalesce(t{n}.tc, 0) AS BIGINT) AS top{n}_chars" for n in (2, 3, 4)
    )
    cov_cols = ",\n         ".join(
        f"CAST(coalesce(c{n}.cw, 0) AS BIGINT) AS dup{n}gram_words" for n in ns_dup
    )
    top_joins = "\n  ".join(
        f"LEFT JOIN topstat t{n} ON t{n}.id = ids.id AND t{n}.n = {n}"
        for n in (2, 3, 4)
    )
    cov_joins = "\n  ".join(
        f"LEFT JOIN cov c{n} ON c{n}.id = ids.id AND c{n}.n = {n}" for n in ns_dup
    )
    rules = {
        "r_dup_line_frac": f"100 * n_dup_lines <= {t['dup_line_frac']} * n_lines",
        "r_dup_line_chars": f"100 * dup_line_chars <= {t['dup_line_char_frac']} * line_chars",
        "r_dup_para_frac": f"100 * n_dup_paras <= {t['dup_para_frac']} * n_paras",
        "r_dup_para_chars": f"100 * dup_para_chars <= {t['dup_para_char_frac']} * para_chars",
        "r_top_2gram": f"100 * top2_chars <= {t['top_2gram_char_frac']} * text_chars",
        "r_top_3gram": f"100 * top3_chars <= {t['top_3gram_char_frac']} * text_chars",
        "r_top_4gram": f"100 * top4_chars <= {t['top_4gram_char_frac']} * text_chars",
        **{
            f"r_dup_{n}gram": f"100 * dup{n}gram_words <= {t[f'dup_{n}gram_frac']} * n_words"
            for n in ns_dup
        },
    }
    rule_cols = ",\n       ".join(f"({e}) AS {k}" for k, e in rules.items())
    keep = " AND ".join(f"({e})" for e in rules.values())
    return f"""
WITH base AS (
  SELECT id, text,
         {WORDS_SQL.format(col="text")} AS words
  FROM ({docs_sql})
),
ids AS (
  SELECT id, CAST(len(text) AS BIGINT) AS text_chars,
         CAST(len(words) AS BIGINT) AS n_words
  FROM base
),
segs AS (
  SELECT id, 'line' AS kind,
         unnest(list_filter(string_split_regex(text, chr(10)), x -> trim(x) <> '')) AS seg
  FROM base
  UNION ALL
  SELECT id, 'para',
         unnest(list_filter(string_split_regex(text, chr(10) || '{{2,}}'), x -> trim(x) <> ''))
  FROM base
),
segstat AS (
  SELECT id, kind,
         CAST(sum(c) AS BIGINT) AS total,
         CAST(sum(c) - count(*) AS BIGINT) AS dup,
         CAST(sum(c * len(seg)) AS BIGINT) AS chars,
         CAST(coalesce(sum(CASE WHEN c > 1 THEN c * len(seg) END), 0) AS BIGINT) AS dup_chars
  FROM (SELECT id, kind, seg, count(*) AS c FROM segs GROUP BY 1, 2, 3)
  GROUP BY 1, 2
),
pos AS (
  SELECT id, n, words,
         unnest(generate_series(1, len(words) - n + 1)) AS p
  FROM base, (SELECT unnest([2, 3, 4, 5, 6, 7, 8, 9, 10]) AS n)
),
grams AS (
  SELECT id, n, p, array_to_string(words[p:p+n-1], ' ') AS gram FROM pos
),
gcnt AS (
  SELECT id, n, gram, CAST(count(*) AS BIGINT) AS c FROM grams GROUP BY 1, 2, 3
),
topstat AS (
  SELECT id, n, CAST(max(c) * len(min(gram)) AS BIGINT) AS tc
  FROM (
    SELECT id, n, gram, c, max(c) OVER (PARTITION BY id, n) AS mx
    FROM gcnt WHERE n IN (2, 3, 4)
  ) s
  WHERE c = mx
  GROUP BY 1, 2
),
dpos AS (
  SELECT g.id, g.n, g.p
  FROM grams g JOIN gcnt ON gcnt.id = g.id AND gcnt.n = g.n AND gcnt.gram = g.gram
  WHERE gcnt.c > 1 AND g.n >= 5
),
isl AS (
  SELECT id, n,
         greatest(
           p + n - 1 - greatest(
             p - 1,
             coalesce(max(p + n - 1) OVER (
               PARTITION BY id, n ORDER BY p
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)),
           0) AS contrib
  FROM dpos
),
cov AS (SELECT id, n, CAST(sum(contrib) AS BIGINT) AS cw FROM isl GROUP BY 1, 2),
agg AS (
  SELECT ids.id, ids.text_chars, ids.n_words,
         CAST(coalesce(l.total, 0) AS BIGINT) AS n_lines,
         CAST(coalesce(l.dup, 0) AS BIGINT) AS n_dup_lines,
         CAST(coalesce(l.chars, 0) AS BIGINT) AS line_chars,
         CAST(coalesce(l.dup_chars, 0) AS BIGINT) AS dup_line_chars,
         CAST(coalesce(pa.total, 0) AS BIGINT) AS n_paras,
         CAST(coalesce(pa.dup, 0) AS BIGINT) AS n_dup_paras,
         CAST(coalesce(pa.chars, 0) AS BIGINT) AS para_chars,
         CAST(coalesce(pa.dup_chars, 0) AS BIGINT) AS dup_para_chars,
         {top_cols},
         {cov_cols}
  FROM ids
  LEFT JOIN segstat l ON l.id = ids.id AND l.kind = 'line'
  LEFT JOIN segstat pa ON pa.id = ids.id AND pa.kind = 'para'
  {top_joins}
  {cov_joins}
)
SELECT agg.*,
       {rule_cols},
       ({keep}) AS keep
FROM agg
"""


#: Stupid Backoff discount (Brants et al. 2007, "Large Language Models in
#: Machine Translation" — the web-scale LM scoring recipe: no normalization,
#: relative frequencies, a fixed 0.4 backoff weight).
BACKOFF_ALPHA = 0.4

#: broadcast ceiling for the bigram-LM count models: at or under this many
#: rows a model table ships as a broadcast; above it the hint is dropped and
#: the join shuffles on the word key (the LSH candidate-gate convention —
#: an unconditional broadcast of an unbounded model is a driver OOM).
LM_BROADCAST_MAX_ENTRIES = 2_000_000

#: DuckDB mirror of ``words()`` (split-on-whitespace, drop empties) — kept
#: next to the Spark form so they can only drift together.
WORDS_SQL = r"list_filter(string_split_regex(trim({col}), '[ \t\n\f\r]+'), x -> x <> '')"


def _pair_rows(df, text_col: str, id_col: str):
    """(id, prev, w) per token position: prev is NULL at position 1. The
    pair array is built BELOW the explode (zip_with over the materialized
    word array — the CollapseProject re-run trap), so the regex split runs
    once per document, not once per token."""
    ws = df.select(F.col(id_col).alias("id"), words(text_col).alias("__ws"))
    n = F.size("__ws")
    prevs = F.concat(
        F.array(F.lit(None).cast("string")),
        F.slice("__ws", 1, F.greatest(n - 1, F.lit(0))),
    )
    pairs = F.zip_with(
        prevs, F.col("__ws"), lambda p, w: F.struct(p.alias("prev"), w.alias("w"))
    )
    return (
        ws.select("id", F.explode(pairs).alias("g"))
        .select("id", F.col("g.prev").alias("prev"), F.col("g.w").alias("w"))
        # a zero-token doc zips to one (null, null) row - drop it
        .where(F.col("w").isNotNull())
    )


def bigram_lm_scores(train, score, text_col: str = "text", id_col: str = "doc_id"):
    """Stupid-Backoff bigram LM scoring: train relative-frequency bigram +
    unigram tables on ``train``, score every ``score`` doc by per-token
    average negative log score. The next rung of the CCNet ladder above
    ``unigram_lm_scores`` (KenLM perplexity is the published form; Stupid
    Backoff is the score Google actually shipped at corpus scale):

        S(w | prev) = c(prev, w) / c(prev)          seen bigram
                    = 0.4 * (c(w)+1)/(N+V)          backoff (add-one base)
        S(w) at position 1 = (c(w)+1)/(N+V)

    The add-one-smoothed unigram base (instead of raw c(w)/N) keeps OOV
    scores finite and every probability an exact rational of train-corpus
    counts — only the final ln/avg is float, rounded for the contract.
    Returns (id, n_tokens, n_backoff, nll): n_backoff — how many positions
    fell through to the unigram — is an exact-integer quality signal of its
    own (high backoff rate = unseen-domain text).

    Shape at scale: two map-side-combinable count aggregates over the train
    corpus (vocab-sized and bigram-table-sized), broadcast onto the score
    token stream (drop the hints past ~1e8 entries and the joins shuffle on
    the word keys), one per-doc avg. No windows, no sorts — the position
    pairing is the pre-explode zip, not a lag().
    """
    from ..operators.caching import scoped_persist

    uni = scoped_persist(
        train.select(F.explode(words(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cw"))
    )
    tot = uni.agg(
        F.sum("cw").alias("n_toks"), F.count(F.lit(1)).alias("vocab")
    )
    big = scoped_persist(
        _pair_rows(train, text_col, id_col)
        .where(F.col("prev").isNotNull())
        .groupBy("prev", "w")
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    # NOTE — eager construction: the broadcast decision is made at plan
    # time from the EXACT persisted model sizes (two count jobs before the
    # caller's first action — the LSH candidate-gate convention); past the
    # ceiling the hint is dropped and the join shuffles on the word key.
    hint_uni = (
        F.broadcast if uni.count() <= LM_BROADCAST_MAX_ENTRIES else (lambda d: d)
    )
    hint_big = (
        F.broadcast if big.count() <= LM_BROADCAST_MAX_ENTRIES else (lambda d: d)
    )
    sp = _pair_rows(score, text_col, id_col)
    j = (
        sp.join(hint_uni(uni), "w", "left")
        .join(
            hint_uni(uni.select(F.col("w").alias("prev"), F.col("cw").alias("cprev"))),
            "prev",
            "left",
        )
        .join(hint_big(big), ["prev", "w"], "left")
        .crossJoin(F.broadcast(tot))
    )
    base = (F.coalesce("cw", F.lit(0)) + 1) / (F.col("n_toks") + F.col("vocab"))
    s = (
        F.when(F.col("prev").isNull(), base)
        .when(F.col("cb").isNotNull(), F.col("cb") / F.col("cprev"))
        .otherwise(F.lit(BACKOFF_ALPHA) * base)
    )
    backoff = (F.col("prev").isNotNull() & F.col("cb").isNull()).cast("long")
    return j.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(backoff).cast("long").alias("n_backoff"),
        F.round(F.avg(-F.log(s)), 4).alias("nll"),
    )


def bigram_lm_sql(train_sql: str, score_sql: str, id_out: str = "id") -> str:
    """Generated DuckDB mirror of ``bigram_lm_scores`` (same counts, same
    smoothing literals, same backoff constant). ``train_sql``/``score_sql``
    must yield ``(id, text)``. The oracle pairs positions with a lag()
    window — semantically identical to the engine's pre-explode zip."""
    w_of = WORDS_SQL.format(col="text")
    pos = (
        "SELECT id, pos, w, lag(w) OVER (PARTITION BY id ORDER BY pos) AS prev "
        "FROM (SELECT id, unnest(ws) AS w, generate_subscripts(ws, 1) AS pos "
        f"FROM (SELECT id, {w_of} AS ws FROM ({{src}})))"
    )
    return f"""
WITH ttoks AS (
  SELECT unnest({w_of}) AS w FROM ({train_sql})
),
uni AS (SELECT w, CAST(count(*) AS BIGINT) AS cw FROM ttoks GROUP BY w),
tot AS (SELECT CAST(sum(cw) AS BIGINT) AS n_toks,
               CAST(count(*) AS BIGINT) AS vocab FROM uni),
tp AS ({pos.format(src=train_sql)}),
big AS (SELECT prev, w, CAST(count(*) AS BIGINT) AS cb
        FROM tp WHERE prev IS NOT NULL GROUP BY prev, w),
sp AS ({pos.format(src=score_sql)}),
j AS (
  SELECT sp.id, sp.prev, u.cw, up.cw AS cprev, b.cb, tot.n_toks, tot.vocab
  FROM sp
  LEFT JOIN uni u ON sp.w = u.w
  LEFT JOIN uni up ON sp.prev = up.w
  LEFT JOIN big b ON sp.prev = b.prev AND sp.w = b.w
  CROSS JOIN tot
)
SELECT id AS {id_out}, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN prev IS NOT NULL AND cb IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_backoff,
       round(avg(-ln(
         CASE WHEN prev IS NULL
              THEN (coalesce(cw, 0) + 1) / CAST(n_toks + vocab AS DOUBLE)
              WHEN cb IS NOT NULL THEN cb / CAST(cprev AS DOUBLE)
              ELSE CAST({BACKOFF_ALPHA} AS DOUBLE)
                   * ((coalesce(cw, 0) + 1) / CAST(n_toks + vocab AS DOUBLE))
         END)), 4) AS nll
FROM j GROUP BY id
"""


def char_entropy(df, text_col: str, id_col: str):
    """Per-document Shannon entropy over the character distribution, in
    bits/char — the repetitiveness/noise quality signal pretraining filters
    cut on from both ends (near-0 = degenerate repetition, e.g. 'aaaa...';
    near-log2(alphabet) with a big alphabet = random noise / binary
    spillage). H = log2(n) - (sum over chars c of count_c*log2(count_c))/n,
    evaluated in exactly that form so the generated SQL mirror reproduces
    the IEEE result.

    Execution shape: explode to characters (rows stay contiguous per doc in
    their input partition), ONE groupBy(id, ch) whose counts combine
    map-side, then a groupBy(id) over at most |alphabet| rows per doc —
    both exchanges carry (id, char-count) rows, never text. Empty docs are
    excluded (an empty split yields a single '' token whose entropy is
    undefined — filter length > 0, mirrored in the SQL).

    Unicode note: both Spark's split and DuckDB's string_split_regex split
    on codepoints for BMP text; astral-plane characters (surrogate pairs in
    the JVM) can split differently — for emoji-heavy corpora normalize
    first."""
    ch = df.filter(F.length(text_col) > 0).select(
        F.col(id_col).alias("id"), F.explode(F.split(F.col(text_col), "")).alias("ch")
    )
    counts = ch.groupBy("id", "ch").agg(F.count(F.lit(1)).alias("c"))
    n = F.sum("c")
    return counts.groupBy("id").agg(
        n.cast("long").alias("n_chars"),
        F.round(
            F.log2(n.cast("double")) - F.sum(F.col("c") * F.log2("c")) / n, 4
        ).alias("entropy_bits"),
    )


def char_entropy_sql(
    docs_sql: str = "SELECT doc_id AS id, text FROM documents",
) -> str:
    """Generated DuckDB mirror of ``char_entropy`` (same formula, same
    evaluation order)."""
    return f"""
WITH docs AS ({docs_sql}),
ch AS (
  SELECT id, unnest(string_split_regex(text, '')) AS ch
  FROM docs WHERE length(text) > 0
),
c AS (SELECT id, ch, count(*) AS c FROM ch GROUP BY id, ch)
SELECT id, CAST(sum(c) AS BIGINT) AS n_chars,
       round(log2(CAST(sum(c) AS DOUBLE))
             - sum(c * log2(CAST(c AS DOUBLE))) / sum(c), 4) AS entropy_bits
FROM c GROUP BY id
"""


def oov_rate(docs, id_col: str = "doc_id", text_col: str = "text",
             min_count: int = 5):
    """Per-document out-of-vocabulary rate in EXACT basis points — the
    tokenizer-coverage / gibberish screen: build the corpus vocabulary
    (whitespace terms occurring >= min_count times corpus-wide), then
    report, per document, how many of its token OCCURRENCES fall outside
    it. High OOV flags boilerplate-stripped junk, OCR noise, and wrong-
    tokenizer corpora before a training run pays for them.

        oov_bp = half_up(10^4 * n_oov / n_tokens)

    computed with the exact integer half-up division (no float surface —
    the sf0.1 parity lesson from quality_score; n_oov/n_tokens are counts,
    so the numerator is non-negative and DuckDB's truncating ``//``
    coincides with Spark's pmod floor). Documents with zero
    tokens have no rate and are absent from the output (they vanish at
    the explode; the oracle mirrors that).

    Shape at scale: explode -> (doc, term) groupBy (map-side combinable —
    the shuffle carries distinct doc-term pairs), term totals via a second
    groupBy over the PAIR frame (never the corpus), then a shuffle join of
    pairs against the term frame on the term key (AQE broadcast-converts
    it when the above-threshold vocabulary is small; with min_count >= 5
    the term frame is a vanishing fraction of the pair frame) and one
    final per-doc groupBy. Skew note: the heaviest natural-language term
    joins against a single term-frame row — the pair frame side is
    pre-aggregated, so the hot key carries one row per document AT MOST,
    the same bound the PMI/TF-IDF operators rely on."""
    from pyspark.sql import DataFrame  # noqa: F401

    from ..operators.caching import scoped_persist

    dt = scoped_persist(
        docs.select(F.col(id_col).alias("id"), F.explode(words(text_col)).alias("term"))
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    terms = dt.groupBy("term").agg(F.sum("cnt").cast("long").alias("freq"))
    j = dt.join(terms, "term")
    agg = j.groupBy("id").agg(
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("freq") < min_count, F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("n_oov"),
    )
    a = F.lit(10000).cast("long") * F.col("n_oov")
    b = F.col("n_tokens")
    num = F.lit(2).cast("long") * a + b
    exact = num - F.pmod(num, F.lit(2).cast("long") * b)
    dec = "decimal(38,0)"
    bp = (exact.cast(dec) / (F.lit(2).cast("long") * b).cast(dec)).cast("long")
    return agg.select(
        F.col("id").alias(id_col), "n_tokens", "n_oov", bp.alias("oov_bp")
    )


def oov_rate_sql(words_expr: str, min_count: int = 5,
                 id_col: str = "doc_id", table: str = "documents") -> str:
    """Generated DuckDB mirror of ``oov_rate`` over a words-list expression
    (pass the registry's _W fragment): same pair/term frames, same exact
    half-up integer division."""
    return f"""
WITH tok AS (
  SELECT {id_col} AS id, unnest({words_expr}) AS term FROM {table}
),
dt AS (SELECT id, term, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY id, term),
terms AS (SELECT term, CAST(sum(cnt) AS BIGINT) AS freq FROM dt GROUP BY term),
agg AS (
  SELECT dt.id,
         CAST(sum(dt.cnt) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN t.freq < {min_count} THEN dt.cnt ELSE 0 END) AS BIGINT)
           AS n_oov
  FROM dt JOIN terms t ON dt.term = t.term
  GROUP BY dt.id
)
SELECT id AS {id_col}, n_tokens, n_oov,
       CAST((CAST(2 AS BIGINT) * 10000 * n_oov + n_tokens)
            // (CAST(2 AS BIGINT) * n_tokens) AS BIGINT) AS oov_bp
FROM agg
"""
