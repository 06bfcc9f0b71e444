"""X1/X2 ``split_and_translate``: the reference's flagship fuzzy-enrichment op.

Reference (flows/i18n.py:80-163, called from datasets.py:427-429,
publications.py:127-131, organisations.py:73-81): split a multi-value string
field on a delimiter; translate each value against a small translation table —
exact match first, else fuzzy match (fuzzywuzzy UQRatio, score_cutoff=90, top-2
with ambiguity warning); replace the field with arrays ``f, f__en, f__ar,
f__all``; unmatched values pass through to all outputs.

Design: translate the vocabulary, not the rows. A field carries far fewer
distinct values than rows (506 values over 1,080 organisations at the
reference portal's size), so:
  1. one query collects the table's cleaned keys and translations together
     with the field's distinct cleaned values (a tagged union), each with
     the scorer's form of the string (``full_process`` for UQRatio) computed
     in the JVM, so the regex semantics stay Spark's; the keys are
     deduplicated on the driver, first row in table order winning;
  2. on the driver, each distinct value is resolved once: an exact hit from a
     dict, else every key is scored (``_uqratio_py``, or the Python twin of
     Spark's levenshtein similarity), ranked by score then key, with the
     cutoff, top-2 and ambiguity rules of the reference;
  3. the resolved vocabulary rides into the plan as one JSON string read with
     ``from_json``, which Catalyst folds into a map literal, and one
     projection maps each array element through it with ``transform``.

The rows never meet Python, so no Python worker starts, and the output keeps
the input's row order. Like the reference, which holds its translation dict
in one process, the field's distinct values are held on the driver.
"""

from __future__ import annotations

import heapq
import json
from dataclasses import dataclass
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textops import clean_string, split_to_array


def full_process(c: Column | str) -> Column:
    """fuzzywuzzy ``utils.full_process`` with force_ascii=False (the U in
    UQRatio): every non-word character (unicode classes) becomes a space,
    lowercase, strip — consecutive junk chars become MULTIPLE spaces, which
    is fuzzywuzzy behaviour and is deliberately not collapsed."""
    c = F.col(c) if isinstance(c, str) else c
    return F.trim(F.lower(F.regexp_replace(c, r"[^\p{L}\p{N}_]", " ")))


def _lcs_len(a: str, b: str) -> int:
    """Length of the longest common subsequence, bit-parallel (Hyyrö 2004):
    ``v`` holds one bit per character of ``b``, each character of ``a``
    costs one add and a few masks, and the length is the count of cleared
    bits."""
    masks: dict[str, int] = {}
    for i, c in enumerate(b):
        masks[c] = masks.get(c, 0) | 1 << i
    full = (1 << len(b)) - 1
    v = full
    for c in a:
        u = v & masks.get(c, 0)
        v = ((v + u) | (v - u)) & full
    return len(b) - v.bit_count()


def _uqratio_py(a: str, b: str) -> float:
    """fuzzywuzzy ``UQRatio`` over two ``full_process``-ed strings
    (i18n.py:107-109)."""
    if not a or not b:
        return 0.0
    # fuzz.ratio with the C speedup is the INDEL ratio: 100 * 2*LCS/(|a|+|b|)
    # (substitution cost 2 == LCS formulation), rounded to an int with
    # Python round() — which is HALF-EVEN; the DuckDB oracle mirrors that
    # with round_even, NOT round (half-up).
    return float(round(200.0 * _lcs_len(a, b) / (len(a) + len(b))))


def _levenshtein_py(a: str, b: str) -> float:
    """``100 * (1 - lev(a, b) / max(len))`` rounded to 4 places the way
    Spark's ``round`` does: half-up on the double's decimal form. An
    engine-portable stand-in, NOT the reference's ranking."""
    denom = max(len(a), len(b))
    if denom == 0:
        return 100.0
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    sim = 100.0 * (1.0 - prev[-1] / denom)
    return float(Decimal(repr(sim)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


# scorer -> (the JVM-side form both strings are scored in, the Python scorer)
_SCORERS = {
    "uqratio": (full_process, _uqratio_py),
    "levenshtein": (lambda c: c, _levenshtein_py),
}


@dataclass
class TranslationTable:
    """X1: the lookup built from the 12 translation sheets (i18n.py:50-77):
    key column + translation columns keyed by suffix.

    Keys are matched cleaned (``clean_string``). When two rows clean to the
    same key, the first row in table order wins (the order ``df.collect()``
    returns); a row whose key is null matches nothing."""

    df: DataFrame
    key: str = "key"
    translations: tuple[str, ...] = ("hebrew", "english", "arabic")


def _resolve(
    values: list, keys: list, score, score_cutoff: float
) -> dict[str, tuple]:
    """``{cleaned value: (*translations, ambiguous)}`` for every value that
    resolves; ``values`` are ``(cleaned, form)`` pairs and ``keys`` are
    ``(cleaned key, form, translations)`` triples."""
    exact = {k: t for k, _, t in keys}
    out = {}
    for v, form in values:
        if v in exact:
            out[v] = (*exact[v], False)
            continue
        # rank by score descending, then key ascending; keep the top two
        top = heapq.nsmallest(2, ((-score(form, f), k, t) for k, f, t in keys))
        if not top or -top[0][0] < score_cutoff:
            continue
        s1, _, t1 = top[0]
        # reference warning (i18n.py:110-114): best scored < 100, the
        # runner-up also cleared the cutoff with a different translation
        amb = -s1 < 100 and len(top) > 1 and -top[1][0] >= score_cutoff and top[1][2] != t1
        out[v] = (*t1, amb)
    return out


def split_and_translate(
    df: DataFrame,
    field: str,
    table: TranslationTable,
    delimiter: str = ",",
    score_cutoff: float = 90.0,
    suffixes: dict[str, str] | None = None,
    scorer: str = "uqratio",
    capture_ambiguity: bool = False,
) -> DataFrame:
    """Replace ``field`` with translated arrays ``field``, ``field__en``,
    ``field__ar``, ``field__all`` (suffix->translation-column mapping
    overridable via ``suffixes``).

    ``scorer``: 'uqratio' (default — fuzzywuzzy UQRatio parity, the
    reference's ranking at i18n.py:107-109) or 'levenshtein' (normalized
    edit distance; word-reordered or punctuation-dirty values rank
    differently from the reference).

    ``capture_ambiguity``: when True, adds a boolean ``{field}__ambiguous``
    column reproducing the reference's top-2 warning (i18n.py:110-114): the
    best fuzzy match scored < 100 while the runner-up also cleared the
    cutoff with a DIFFERENT translation.

    Runs one small collect: the translation table and the field's distinct
    values, which are held on the driver."""
    if scorer not in _SCORERS:
        raise ValueError(f"unknown scorer {scorer!r}")
    form, score = _SCORERS[scorer]
    suffixes = suffixes or {"": "hebrew", "__en": "english", "__ar": "arabic"}
    names = list(table.translations)

    # key rows carry their translations in ``t``; value rows carry a null
    # ``t``. A blank key cell matches nothing: no exact hit, no score above zero
    tkey = clean_string(table.key)
    key_rows = table.df.where(tkey.isNotNull()).select(
        tkey.alias("v"),
        form(tkey).alias("f"),
        F.array(*[F.col(c).cast("string") for c in names]).alias("t"),
    )
    value_rows = (
        df.select(F.explode(split_to_array(field, delimiter)).alias("v"))
        .select(clean_string("v").alias("v"))
        .distinct()
        .select("v", form(F.col("v")).alias("f"), F.lit(None).cast("array<string>").alias("t"))
    )
    keys: dict[str, tuple] = {}
    values = []
    # the union's rows come back key partitions first, in table order
    for v, f, t in key_rows.unionByName(value_rows).collect():
        if t is None:
            values.append((v, f))
        elif v not in keys:
            keys[v] = (v, f, tuple(t))
    vocab = {
        v: dict(zip(names + ["__amb"], hit))
        for v, hit in _resolve(values, list(keys.values()), score, score_cutoff).items()
    }
    fields = ", ".join(f"`{c}`: string" for c in names)
    lookup = F.from_json(
        F.lit(json.dumps(vocab, ensure_ascii=False)),
        f"map<string, struct<{fields}, `__amb`: boolean>>",
    )

    # a null or empty field still yields one (null) element per array
    parts = split_to_array(field, delimiter)
    parts = F.when(F.size(parts) > 0, parts).otherwise(F.array(F.lit(None).cast("string")))
    hits = df.withColumn(
        "__hits",
        F.transform(parts, lambda v: F.struct(v.alias("v"), lookup[clean_string(v)].alias("t"))),
    ).drop(field)

    # unmatched values pass through to every output column (i18n.py:131-140)
    def pick(tcol: str):
        return lambda h: F.coalesce(h["t"][tcol], h["v"])

    cols = {f"{field}{s}": F.transform("__hits", pick(t)) for s, t in suffixes.items()}
    cols[f"{field}__all"] = F.array_distinct(
        F.flatten(F.transform("__hits", lambda h: F.array(*[pick(t)(h) for t in suffixes.values()])))
    )
    if capture_ambiguity:
        cols[f"{field}__ambiguous"] = F.exists(
            "__hits", lambda h: F.coalesce(h["t"]["__amb"], F.lit(False))
        )
    return hits.withColumns(cols).drop("__hits")
