"""Composable predicate algebra over the chunk table.

The analogue of parquet-extra's Predicate boolean trees — AND/OR
(parquet-avro Predicate.scala:91-95), NOT (:163-171), the full comparison
set including != (:31-38), null literals (:120-127), cross-column
composition — compiled against the engine's chunk statistics instead of
Parquet row-group stats, with the same dual contract: a *coarse* stats
filter that provably-safely skips chunks, then an *exact* row-level
recheck after decode (Predicate.scala:10,19-27 Predicates{native,
parquet}, tested PredicateTest.scala:206-222).

Compilation is an abstract interpretation over per-chunk stats: every
node evaluates to a pair of boolean Columns

    possible  — "some row of this chunk MAY satisfy the predicate"
    certain   — "every row of this chunk DOES satisfy it"

Leaves derive both from (min_val, max_val, null_count, n_values); NOT
swaps them (possible(¬x) = ¬certain(x), certain(¬x) = ¬possible(x) where
x is never NULL on the chunk's rows, as NOT NULL is NULL — _never_null);
AND/OR combine component-wise. A chunk is skipped iff possible is false.
Soundness notes:

* SQL null semantics: a NULL operand fails every comparison, so all-null
  chunks are impossible for any Cmp leaf (null_count == n_values check).
* NULL stored min/max mean "unbounded" (all-null chunk or truncated
  string bound) — they weaken certain and widen possible, never the
  reverse.
* Truncated string minima are prefixes (lower bounds) of the true min;
  a truncated-needing max is stored as NULL. Every certain rule uses
  only the sound direction of those bounds (see engine/stats.py:45-69).

Two evaluators implement these (possible, certain) rules, one per place
a verdict is needed:

* ``_eval_stats`` builds Catalyst Columns over a metadata frame. It
  serves the driver-planned frames: ``chunk_verdicts``, ``prune_chunks``
  (topk, the filtered aggregates, ``delete_where``) and
  ``pushdown_stats_pred``.
* ``stats_verdict`` is pure Python over one chunk's stats rows. It
  serves code with no SparkSession: the decode kernel behind
  ``filter_decode_pred`` skips chunks with it before decoding a payload,
  and the ``chunktable`` data source prunes its files' chunks with it.
  Literals are typed on the driver first (``lower_literals``), with the
  same ``toInternal`` PySpark's ``F.lit`` uses, and compare under Spark's
  coercion rules (an integer stat against a float literal compares as
  double; NaN sorts above every double). tests/test_stats_verdict_property
  checks that both evaluators agree on random trees and stats.
"""

from __future__ import annotations

import datetime as _dt
import math
import re

from dataclasses import dataclass
from decimal import Decimal
from functools import lru_cache, reduce

from pyspark.sql import Column, DataFrame, functions as F, types as T

from ..codecs import typemap
from . import stats as stats_lib

_NUMERIC = typemap.INT_DTYPES | typemap.FLOAT_DTYPES


class Pred:
    """Base class of predicate-tree nodes. Build via the factory ``P``."""

    def __and__(self, other: "Pred") -> "Pred":
        return And(self, other)

    def __or__(self, other: "Pred") -> "Pred":
        return Or(self, other)

    def __invert__(self) -> "Pred":
        return Not(self)


@dataclass(frozen=True)
class Cmp(Pred):
    op: str  # gt ge lt le eq ne
    column: str
    value: object


@dataclass(frozen=True)
class IsIn(Pred):
    column: str
    values: tuple


@dataclass(frozen=True)
class Prefix(Pred):
    """col LIKE 'value%' — prefix match, prunable as the half-open range
    [value, prefix_successor(value)) on string chunk stats."""
    column: str
    value: str


@dataclass(frozen=True)
class Substr(Pred):
    """col LIKE '%value%' (op=contains) or '%value' (op=endswith).
    Substring position is independent of lexicographic order, so chunk
    [min,max] stats can never prove or refute a match — the stats lane
    keeps every non-all-null chunk (sound, never certain) and the exact
    work happens in the DICTIONARY domain (engine/encoded_filter): one
    substring scan per distinct value, gathered through the codes."""
    op: str  # contains | endswith
    column: str
    value: str


@dataclass(frozen=True)
class Rlike(Pred):
    """col RLIKE 'pattern' — unanchored regex search, the reference
    surface being Spark's ``Column.rlike``. Like Substr, [min,max] stats
    can never PROVE a match; but a pattern anchored at ``^`` with a
    literal head implies a mandatory prefix, so the stats lane prunes
    with the Prefix range (possible only, never certain). The exact
    evaluation runs once per DICTIONARY entry (engine/encoded_filter).

    Dialect contract: the dictionary lane uses Python ``re.search``, the
    row-level recheck uses JVM ``java.util.regex`` (Column.rlike), and
    external oracles typically use RE2 — stick to the portable common
    subset (literals, classes, anchors, ``.*+?|()``) so all three agree."""
    column: str
    pattern: str


@dataclass(frozen=True)
class IsNull(Pred):
    column: str


@dataclass(frozen=True)
class NotNull(Pred):
    column: str


@dataclass(frozen=True)
class And(Pred):
    left: Pred
    right: Pred


@dataclass(frozen=True)
class Or(Pred):
    left: Pred
    right: Pred


@dataclass(frozen=True)
class Not(Pred):
    child: Pred


class P:
    """Factory namespace: ``P.gt("n_chars", 150) & (P.eq("lang", "en") | ~P.eq("source", "web"))``."""

    @staticmethod
    def _ordered(op, c, v):
        if v is None:
            raise ValueError(
                f"P.{op}({c!r}, None): ordering against a NULL literal is"
                " always false — use P.is_null/P.not_null for null tests"
            )
        return Cmp(op, c, v)

    @staticmethod
    def gt(c, v):
        return P._ordered("gt", c, v)

    @staticmethod
    def ge(c, v):
        return P._ordered("ge", c, v)

    @staticmethod
    def lt(c, v):
        return P._ordered("lt", c, v)

    @staticmethod
    def le(c, v):
        return P._ordered("le", c, v)

    @staticmethod
    def eq(c, v):
        # null-literal equality means IS NULL, matching the reference's
        # null predicates (Predicate.scala:120-127: eq(col, null) compiles
        # to an is-null check, tested PredicateTest.scala:76-100) — a raw
        # Cmp against a NULL literal would silently match nothing
        if v is None:
            return IsNull(c)
        return Cmp("eq", c, v)

    @staticmethod
    def ne(c, v):
        if v is None:
            return NotNull(c)
        return Cmp("ne", c, v)

    @staticmethod
    def isin(c, vals):
        return IsIn(c, tuple(vals))

    @staticmethod
    def startswith(c, prefix):
        """col LIKE 'prefix%'. The empty prefix matches every non-null
        string (SQL startswith semantics), so it lowers to NOT NULL."""
        if not isinstance(prefix, str):
            raise TypeError(
                f"P.startswith({c!r}, {prefix!r}): prefix must be a str"
            )
        return Prefix(c, prefix) if prefix else NotNull(c)

    @staticmethod
    def contains(c, sub):
        """col LIKE '%sub%'. The empty needle matches every non-null
        string (SQL contains semantics), so it lowers to NOT NULL."""
        if not isinstance(sub, str):
            raise TypeError(f"P.contains({c!r}, {sub!r}): needle must be a str")
        return Substr("contains", c, sub) if sub else NotNull(c)

    @staticmethod
    def endswith(c, suffix):
        """col LIKE '%suffix'. The empty suffix lowers to NOT NULL."""
        if not isinstance(suffix, str):
            raise TypeError(
                f"P.endswith({c!r}, {suffix!r}): suffix must be a str"
            )
        return Substr("endswith", c, suffix) if suffix else NotNull(c)

    @staticmethod
    def rlike(c, pattern):
        """col RLIKE 'pattern' (unanchored search, Spark semantics). The
        pattern is compiled eagerly so a malformed regex fails at build
        time, not inside an executor; the empty pattern matches every
        non-null string and lowers to NOT NULL."""
        if not isinstance(pattern, str):
            raise TypeError(f"P.rlike({c!r}, {pattern!r}): pattern must be a str")
        if not pattern:
            return NotNull(c)
        try:
            re.compile(pattern)
        except re.error as e:
            raise ValueError(f"P.rlike({c!r}, {pattern!r}): bad regex: {e}") from e
        return Rlike(c, pattern)

    @staticmethod
    def is_null(c):
        return IsNull(c)

    @staticmethod
    def not_null(c):
        return NotNull(c)

    and_ = staticmethod(lambda *ps: reduce(And, ps))
    or_ = staticmethod(lambda *ps: reduce(Or, ps))
    not_ = staticmethod(lambda p: Not(p))


def prefix_successor(p: str) -> str | None:
    """Smallest string greater than every string with prefix ``p`` (the
    exclusive upper bound of the LIKE 'p%' range), or None when every
    code point is already U+10FFFF (then s >= p  <=>  s startswith p)."""
    for i in range(len(p) - 1, -1, -1):
        if ord(p[i]) < 0x10FFFF:
            return p[:i] + chr(ord(p[i]) + 1)
    return None


_RE_META = set("\\.[]{}()*+?|^$")


def rlike_prefix(pattern: str) -> str | None:
    """Mandatory literal prefix implied by a ``^``-anchored pattern, or
    None when no sound prefix exists. Sound because: (a) any ``|`` in
    the pattern may escape the anchor entirely (``^ab|cd`` matches
    "xxcd"), so alternation disables extraction; (b) the literal run
    stops at the first metacharacter — whatever follows must still match
    AFTER the extracted head; (c) a trailing ``* ? {`` quantifier makes
    the preceding literal optional, so it is dropped (``+`` keeps it:
    at least one occurrence is mandatory)."""
    if not pattern.startswith("^") or "|" in pattern:
        return None
    out: list[str] = []
    i = 1
    while i < len(pattern) and pattern[i] not in _RE_META:
        out.append(pattern[i])
        i += 1
    if out and i < len(pattern) and pattern[i] in "*?{":
        out.pop()
    return "".join(out) or None


def rlike_literals(pattern: str) -> list[str]:
    """Mandatory literal substrings implied by a pattern — every match
    must CONTAIN each returned string — for trigram pruning. Sound by
    conservatism:

    * any ``|`` disables extraction entirely (either branch may omit a
      literal);
    * any group ``(`` disables extraction (a group may be quantified
      ``(abc)?`` — tracking group spans is not worth the risk);
    * a literal run broken by any metacharacter splits there; the char
      BEFORE a ``* ? {`` quantifier is dropped from its run (optional /
      repeatable-zero); ``+`` keeps it (at least one occurrence);
    * escaped metacharacters ``\\.`` contribute their literal char;
      other escapes (``\\d`` …) break the run;
    * on any parse doubt, return [] (no pruning — never unsound).
    """
    if "|" in pattern or "(" in pattern:
        return []
    runs: list[str] = []
    cur: list[str] = []
    i = 0
    n = len(pattern)
    while i < n:
        ch = pattern[i]
        if ch == "\\":
            if i + 1 < n and pattern[i + 1] in _RE_META:
                nxt = pattern[i + 2] if i + 2 < n else ""
                if nxt in "*?{":
                    # quantified escaped literal: optional — break run
                    if cur:
                        runs.append("".join(cur))
                        cur = []
                else:
                    cur.append(pattern[i + 1])
                i += 2
                continue
            # \d \w \s ...: not a literal — break the run
            if cur:
                runs.append("".join(cur))
                cur = []
            i += 2
            continue
        if ch in _RE_META:
            if ch in "*?{" and cur:
                cur.pop()  # preceding char was optional
            if cur:
                runs.append("".join(cur))
                cur = []
            if ch == "[":
                # skip the whole character class (its chars are NOT
                # mandatory literals); unterminated class -> give up
                j = i + 1
                if j < n and pattern[j] == "^":
                    j += 1
                if j < n and pattern[j] == "]":
                    j += 1
                while j < n and pattern[j] != "]":
                    j += 2 if pattern[j] == "\\" else 1
                if j >= n:
                    return []
                i = j + 1
                continue
            if ch == "{":
                # skip the quantifier body {m,n}
                j = pattern.find("}", i + 1)
                if j < 0:
                    return []
                i = j + 1
                continue
            i += 1
            continue
        nxt = pattern[i + 1] if i + 1 < n else ""
        if nxt in "*?{":
            # this char is quantified-optional: it breaks the run and
            # contributes nothing (handled when the quantifier is seen)
            cur.append(ch)
            i += 1
            continue
        cur.append(ch)
        i += 1
    if cur:
        runs.append("".join(cur))
    return [r for r in runs if len(r) >= 3]


def referenced_columns(pred: Pred) -> set[str]:
    if isinstance(pred, (Cmp, IsIn, IsNull, NotNull, Prefix, Substr, Rlike)):
        return {pred.column}
    if isinstance(pred, (And, Or)):
        return referenced_columns(pred.left) | referenced_columns(pred.right)
    if isinstance(pred, Not):
        return referenced_columns(pred.child)
    raise TypeError(f"not a Pred: {pred!r}")


def to_spark(pred: Pred) -> Column:
    """Exact row-level form (the recheck half of the dual contract).
    Standard SQL null semantics: NULL operands fail comparisons."""
    if isinstance(pred, Cmp):
        c, v = F.col(f"`{pred.column}`"), F.lit(pred.value)
        return {
            "gt": c > v, "ge": c >= v, "lt": c < v,
            "le": c <= v, "eq": c == v, "ne": c != v,
        }[pred.op]
    if isinstance(pred, IsIn):
        return F.col(f"`{pred.column}`").isin(list(pred.values))
    if isinstance(pred, Prefix):
        return F.col(f"`{pred.column}`").startswith(F.lit(pred.value))
    if isinstance(pred, Substr):
        col = F.col(f"`{pred.column}`")
        if pred.op == "contains":
            return col.contains(F.lit(pred.value))
        return col.endswith(F.lit(pred.value))
    if isinstance(pred, Rlike):
        return F.col(f"`{pred.column}`").rlike(pred.pattern)
    if isinstance(pred, IsNull):
        return F.col(f"`{pred.column}`").isNull()
    if isinstance(pred, NotNull):
        return F.col(f"`{pred.column}`").isNotNull()
    if isinstance(pred, And):
        return to_spark(pred.left) & to_spark(pred.right)
    if isinstance(pred, Or):
        return to_spark(pred.left) | to_spark(pred.right)
    if isinstance(pred, Not):
        return ~to_spark(pred.child)
    raise TypeError(f"not a Pred: {pred!r}")


def _typed(col: Column, dtype: str) -> Column:
    """Stored stats string -> comparable typed value. Integers compare
    exactly as bigint (a double cast rounds stats past 2**53 together and
    mis-prunes) and decimals via a decimal cast; a float literal against
    a bigint stat then coerces to double exactly as the row filter does.
    ``try_cast``: Catalyst may evaluate these casts on chunk rows of OTHER
    columns before the ``column`` filter drops them (common-subexpression
    evaluation), and an ANSI cast of, say, a string stat to double would
    raise there; stats of the column itself always parse."""
    if dtype in typemap.INT_DTYPES:
        return col.try_cast("bigint")
    if dtype in typemap.FLOAT_DTYPES:
        return col.try_cast("double")
    if typemap.is_decimal(dtype):
        return col.try_cast(dtype)
    if dtype in ("timestamp", "timestamp_ntz"):
        return col.try_cast("timestamp")
    if dtype == "date":
        return col.try_cast("date")
    if dtype == "boolean":
        return col.try_cast("int")  # stats store booleans as "0"/"1"
    return col


def _typed_value(v, dtype: str):
    """Literal on the stats side of a comparison. Booleans become 0/1 to
    match the stored "0"/"1" stats (a bare True literal would string-
    compare as "true" and silently mis-prune)."""
    if dtype == "boolean" and isinstance(v, bool):
        return F.lit(int(v))
    return F.lit(v)


def _stat_cols(
    c: str, dtype: str
) -> tuple[Column, Column, Column, Column, Column, Column]:
    mn = _typed(F.col(f"`{c}_mn`"), dtype)
    mx = _typed(F.col(f"`{c}_mx`"), dtype)
    nc = F.col(f"`{c}_nc`")
    nv = F.col(f"`{c}_nv`")
    mh = F.col(f"`{c}_mh`")  # membership digest; NULL = no digest
    bl = F.col(f"`{c}_bl`")  # bloom digest; NULL = no bloom
    return mn, mx, nc, nv, mh, bl


def bloom_hit_expr(bl: Column, h: int) -> Column:
    """True iff the per-chunk Bloom digest ADMITS canonical member hash
    ``h`` — all k probed bits set (stats.bloom_positions is the shared
    encode/plan contract). An unset bit proves the value absent (blooms
    have no false negatives), so ``~bloom_hit_expr`` is a sound skip;
    callers must keep chunks whose digest column is NULL. Pure Catalyst:
    k element_at + bitwiseAND tests with literal positions/masks."""
    w = stats_lib._BLOOM_BITS_PER_WORD
    return reduce(
        lambda a, b: a & b,
        (
            F.element_at(bl, p // w + 1).bitwiseAND(F.lit(1 << (p % w)))
            != F.lit(0)
            for p in stats_lib.bloom_positions(h)
        ),
    )


def semi_join_surviving(chunks: DataFrame, surviving: DataFrame) -> DataFrame:
    """Semi-join the full chunk rows against a surviving chunk-id set.

    Deliberately NO broadcast hint: a selective predicate leaves a tiny
    survivor set and AQE converts this to a broadcast semi-join at
    runtime from the set's *actual* materialized size — but an
    UNselective predicate over a 100 TB chunk table can keep billions of
    ids, and a forced ``F.broadcast`` would collect them all to the
    driver (OOM). Letting AQE decide gives the broadcast plan exactly
    when it is safe and a shuffled semi-join otherwise; either way each
    chunk's rows stay in one partition (hash on chunk_id), so
    ``decode(colocated=True)`` stays valid downstream.
    """
    return chunks.join(surviving, "chunk_id", "left_semi")


# Above this many values, IsIn stops expanding one (possible, certain)
# expression pair PER VALUE (each with min/max/digest subterms — a 100k-key
# merge would build a ~200k-term Catalyst tree, and merely CONSTRUCTING the
# per-value literals costs one py4j round trip each) and switches to
# DATA-SHAPED pruning: a min/max envelope plus broadcast semi-joins of the
# value set as a DataFrame (materialize_large_isin).
_ISIN_EXPAND_MAX = 64


def _canon_stat_strings(vals: tuple, dtype: str) -> list[str] | None:
    """Values -> the exact canonical strings stats.py stores in
    min_val/max_val, or None when the (value, dtype) pairing is outside
    the canonical contract (then the large-set path reports certain=False
    — sound). Mirrors member_hash_for's strictness."""
    if dtype == "boolean":
        if all(isinstance(v, bool) for v in vals):
            return [str(int(v)) for v in vals]
        return None
    if dtype in typemap.INT_DTYPES:
        if all(isinstance(v, int) and not isinstance(v, bool) for v in vals):
            return [str(v) for v in vals]
        return None
    if dtype == "string":
        if all(isinstance(v, str) for v in vals):
            return list(vals)
        return None
    return None


def _isin_envelope(vals: list, dtype: str):
    """(lo, hi) of the value set in the stats-comparison domain, or
    (None, None) when the literals are not cleanly comparable (then no
    envelope pruning — sound)."""
    try:
        if dtype == "boolean":
            if all(isinstance(v, bool) for v in vals):
                iv = [int(v) for v in vals]
                return min(iv), max(iv)
            return None, None
        if dtype in _NUMERIC or typemap.is_decimal(dtype) or dtype == "string":
            if dtype == "string" and not all(isinstance(v, str) for v in vals):
                return None, None
            return min(vals), max(vals)
    except TypeError:
        pass
    return None, None


def _large_isin_leaves(pred: Pred) -> list[IsIn]:
    if isinstance(pred, IsIn) and len(pred.values) > _ISIN_EXPAND_MAX:
        return [pred]
    if isinstance(pred, (And, Or)):
        return _large_isin_leaves(pred.left) + _large_isin_leaves(pred.right)
    if isinstance(pred, Not):
        return _large_isin_leaves(pred.child)
    return []


def materialize_large_isin(
    stats: DataFrame, pred: Pred, dtypes: dict[str, str]
) -> tuple[DataFrame, dict]:
    """Precompute per-chunk (possible, certain) BOOLEAN COLUMNS for every
    large IsIn leaf of ``pred`` on the wide stats frame — data-shaped
    membership instead of per-value expressions, so merge_rows is honest
    at its max_keys=100_000 bound:

    * possible = [min,max] envelope AND, when every value canonicalizes,
      a digest check: explode the chunk's member_hashes (<= 64 per chunk)
      and broadcast-semi-join against the hashed VALUE SET as a DataFrame
      — chunks whose exact digest misses the whole set are skipped. Bloom
      digests are deliberately not consulted (k probes x |values|).
    * certain = single-valued chunk (raw min_val == max_val string, exact
      under stats.py's canonical rendering; a truncated string min can
      only equal a non-null max when both equal the true value) whose
      value string broadcast-joins into the set, with zero nulls.

    All joins are metadata-scale (the stats frame), broadcast on the key
    set. Returns (widened stats frame, {IsIn leaf: (possible_col,
    certain_col)}) for _eval_stats to consume.
    """
    spark = stats.sparkSession
    env: dict = {}
    for i, leaf in enumerate(dict.fromkeys(_large_isin_leaves(pred))):
        c, dtype = leaf.column, dtypes[leaf.column]
        pcol, ccol = f"__pe_isin_p{i}", f"__pe_isin_c{i}"
        # a NULL item neither admits nor proves a row (see _never_null)
        vals = [v for v in leaf.values if v is not None]
        if not vals:
            stats = stats.withColumn(pcol, F.lit(False)).withColumn(
                ccol, F.lit(False)
            )
            env[leaf] = (pcol, ccol)
            continue
        mn, mx, nc, nv, mh, _ = _stat_cols(c, dtype)
        possible = nc < nv
        lo, hi = _isin_envelope(vals, dtype)
        if lo is not None:
            possible = (
                possible
                & (mn.isNull() | (mn <= _typed_value(hi, dtype)))
                & (mx.isNull() | (mx >= _typed_value(lo, dtype)))
            )
        hs = [stats_lib.member_hash_for(v, dtype) for v in vals]
        if all(h is not None for h in hs):
            key_df = spark.createDataFrame(
                [(int(h),) for h in sorted(set(hs))], "h bigint"
            )
            hit = (
                stats.select("chunk_id", F.explode(f"`{c}_mh`").alias("h"))
                .join(F.broadcast(key_df), "h", "left_semi")
                .select("chunk_id")
                .distinct()
                .withColumn(f"__pe_dig{i}", F.lit(True))
            )
            stats = stats.join(hit, "chunk_id", "left")
            possible = possible & (
                mh.isNull() | F.coalesce(F.col(f"__pe_dig{i}"), F.lit(False))
            )
        certain = F.lit(False)
        canon = _canon_stat_strings(tuple(vals), dtype)
        if canon is not None:
            canon_df = spark.createDataFrame(
                [(s,) for s in sorted(set(canon))], "v string"
            )
            cert = (
                stats.select(
                    "chunk_id",
                    F.col(f"`{c}_mn`").alias("v"),
                    F.col(f"`{c}_mx`").alias("__pe_vx"),
                    F.col(f"`{c}_nc`").alias("__pe_nc"),
                )
                .filter(
                    F.col("v").isNotNull()
                    & (F.col("v") == F.col("__pe_vx"))
                    & (F.col("__pe_nc") == 0)
                )
                .join(F.broadcast(canon_df), "v", "left_semi")
                .select("chunk_id")
                .distinct()
                .withColumn(f"__pe_cert{i}", F.lit(True))
            )
            stats = stats.join(cert, "chunk_id", "left")
            certain = F.coalesce(F.col(f"__pe_cert{i}"), F.lit(False))
        stats = stats.withColumn(pcol, possible).withColumn(ccol, certain)
        env[leaf] = (pcol, ccol)
    return stats, env


def _never_null(pred: Pred) -> Column:
    """True where ``pred`` is never NULL on the chunk's rows: only then does
    "no row is TRUE" (¬possible) mean "every row is FALSE", which
    certain(¬pred) claims. Conservative — false whenever unsure."""
    if isinstance(pred, (IsNull, NotNull)):
        return F.lit(True)
    if isinstance(pred, IsIn) and None in pred.values:
        return F.lit(False)  # x IN (..., NULL) is TRUE or NULL, never FALSE
    if isinstance(pred, (And, Or)):
        return _never_null(pred.left) & _never_null(pred.right)
    if isinstance(pred, Not):
        return _never_null(pred.child)
    return F.col(f"`{pred.column}_nc`") == F.lit(0)


def _eval_stats(
    pred: Pred, dtypes: dict[str, str], env: dict
) -> tuple[Column, Column]:
    """-> (possible, certain) boolean Columns over the wide stats frame.

    ``env`` maps every large IsIn leaf (above _ISIN_EXPAND_MAX values) to
    its pre-materialized boolean column names (materialize_large_isin);
    chunk_verdicts builds it."""
    if isinstance(pred, Cmp):
        mn, mx, nc, nv, mh, bl = _stat_cols(pred.column, dtypes[pred.column])
        v = _typed_value(pred.value, dtypes[pred.column])
        has_non_null = nc < nv
        no_nulls = nc == F.lit(0)
        if pred.op == "gt":
            possible = has_non_null & (mx.isNull() | (mx > v))
            certain = no_nulls & mn.isNotNull() & (mn > v)
        elif pred.op == "ge":
            possible = has_non_null & (mx.isNull() | (mx >= v))
            certain = no_nulls & mn.isNotNull() & (mn >= v)
        elif pred.op == "lt":
            possible = has_non_null & (mn.isNull() | (mn < v))
            certain = no_nulls & mx.isNotNull() & (mx < v)
        elif pred.op == "le":
            possible = has_non_null & (mn.isNull() | (mn <= v))
            certain = no_nulls & mx.isNotNull() & (mx <= v)
        elif pred.op == "eq":
            possible = (
                has_non_null
                & (mn.isNull() | (mn <= v))
                & (mx.isNull() | (mx >= v))
            )
            # membership-digest refinement (parquet-mr dictionary-filter
            # analogue): a small exact dictionary that provably lacks the
            # literal skips the chunk even when [min,max] straddles it —
            # e.g. eq("lang","en") against a chunk spanning [aa..zz].
            # NULL digest = no information (kept); type-mismatched
            # literals get h=None and fall back to min/max only.
            h = stats_lib.member_hash_for(pred.value, dtypes[pred.column])
            if h is not None:
                possible = possible & (
                    mh.isNull() | F.array_contains(mh, F.lit(h))
                )
                # Bloom refinement (opt-in bloom_cols at encode): same
                # contract at high cardinality — an unset probed bit
                # proves the value absent (no false negatives)
                possible = possible & (bl.isNull() | bloom_hit_expr(bl, h))
            certain = no_nulls & mn.isNotNull() & mx.isNotNull() & (mn == v) & (mx == v)
        elif pred.op == "ne":
            # every non-null row equals v iff mn == mx == v (then no row
            # satisfies !=, nulls fail it too)
            all_eq = mn.isNotNull() & mx.isNotNull() & (mn == v) & (mx == v)
            possible = has_non_null & ~all_eq
            certain = no_nulls & (
                (mx.isNotNull() & (mx < v)) | (mn.isNotNull() & (mn > v))
            )
            h = stats_lib.member_hash_for(pred.value, dtypes[pred.column])
            if h is not None:
                # digest proves v absent -> every non-null row differs;
                # with no nulls that's certain (strengthens NOT-pruning:
                # possible(¬ne) = ¬certain(ne))
                certain = certain | (
                    no_nulls & mh.isNotNull() & ~F.array_contains(mh, F.lit(h))
                ) | (
                    no_nulls & bl.isNotNull() & ~bloom_hit_expr(bl, h)
                )
        else:  # pragma: no cover
            raise ValueError(pred.op)
        return possible, certain
    if isinstance(pred, IsIn):
        if len(pred.values) > _ISIN_EXPAND_MAX:
            pcol, ccol = env[pred]
            return F.col(pcol), F.col(ccol)
        # a NULL list item never evaluates TRUE, so it neither admits nor
        # proves a row (and a NULL literal would null the whole OR); it
        # does make non-matches NULL, not FALSE — see _never_null
        parts = [
            _eval_stats(Cmp("eq", pred.column, v), dtypes, env)
            for v in pred.values
            if v is not None
        ]
        if not parts:
            return F.lit(False), F.lit(False)
        possible = reduce(lambda a, b: a | b, (p for p, _ in parts))
        certain = reduce(lambda a, b: a | b, (c for _, c in parts))
        return possible, certain
    if isinstance(pred, Prefix):
        c, dtype = pred.column, dtypes[pred.column]
        mn, mx, nc, nv, _, _ = _stat_cols(c, dtype)
        has_non_null, no_nulls = nc < nv, nc == F.lit(0)
        if dtype != "string":
            # prefix match is a string predicate; on any other dtype the
            # stats lane is not comparable — keep (sound), never certain
            return has_non_null, F.lit(False)
        p = F.lit(pred.value)
        succ = prefix_successor(pred.value)
        # possible: [min,max] intersects [p, succ). A match s satisfies
        # p <= s < succ, so stored max (exact when present) >= p and the
        # stored min — a truncated PREFIX of the true min, hence a lower
        # bound — < succ. certain: stored_mn >= p implies true_mn >= p
        # (true >= stored), and exact mx < succ bounds the top; when succ
        # is None (all-U+10FFFF prefix), s >= p alone proves the prefix.
        possible = has_non_null & (mx.isNull() | (mx >= p))
        certain = no_nulls & mn.isNotNull() & (mn >= p)
        if succ is not None:
            s = F.lit(succ)
            possible = possible & (mn.isNull() | (mn < s))
            certain = certain & mx.isNotNull() & (mx < s)
        return possible, certain
    if isinstance(pred, Substr):
        # substring position is order-independent: [min,max] can neither
        # refute nor prove a match — never certain; the dictionary-domain
        # recheck is exact. But the TRIGRAM digest (opt-in
        # encode(trigram_cols=...)) gives substring predicates the skip
        # lane stats can't: a match contains every 3-gram of the needle,
        # so a chunk whose trigram bloom provably lacks any of them skips
        # (pg_trgm at chunk granularity; bloom FPs only keep extra chunks)
        _, _, nc, nv, _, _ = _stat_cols(pred.column, dtypes[pred.column])
        possible = nc < nv
        if dtypes[pred.column] == "string":
            hs = stats_lib.trigram_hashes(pred.value)
            if hs:
                tg = F.col(f"`{pred.column}_tg`")
                for h in hs:
                    possible = possible & (tg.isNull() | bloom_hit_expr(tg, h))
        return possible, F.lit(False)
    if isinstance(pred, Rlike):
        # a regex can never be PROVEN by [min,max]; but an anchored
        # literal head (rlike_prefix) is a necessary condition, so its
        # Prefix range bounds `possible` — e.g. where=P.rlike("path",
        # "^src/.*\\.py$") skips every chunk outside ["src/", "src0")
        # on a path-clustered table. Non-string dtypes keep every
        # non-null chunk (the recheck raises there, as Substr does).
        _, _, nc, nv, _, _ = _stat_cols(pred.column, dtypes[pred.column])
        has_non_null = nc < nv
        possible = has_non_null
        if dtypes[pred.column] == "string":
            prefix = rlike_prefix(pred.pattern)
            if prefix is not None:
                possible, _ = _eval_stats(
                    Prefix(pred.column, prefix), dtypes, env
                )
            # mandatory literal runs prune via the trigram digest, the
            # same lane Substr uses — e.g. rlike("path", "src/.*util")
            # skips chunks provably lacking 'util' 3-grams even though
            # no [min,max] range constrains a mid-string literal
            for lit in rlike_literals(pred.pattern):
                hs = stats_lib.trigram_hashes(lit)
                if hs:
                    tg = F.col(f"`{pred.column}_tg`")
                    for h in hs:
                        possible = possible & (
                            tg.isNull() | bloom_hit_expr(tg, h)
                        )
        return possible, F.lit(False)
    if isinstance(pred, IsNull):
        _, _, nc, nv, _, _ = _stat_cols(pred.column, dtypes[pred.column])
        return nc > F.lit(0), nc == nv
    if isinstance(pred, NotNull):
        _, _, nc, nv, _, _ = _stat_cols(pred.column, dtypes[pred.column])
        return nc < nv, nc == F.lit(0)
    if isinstance(pred, And):
        pl, cl = _eval_stats(pred.left, dtypes, env)
        pr, cr = _eval_stats(pred.right, dtypes, env)
        return pl & pr, cl & cr
    if isinstance(pred, Or):
        pl, cl = _eval_stats(pred.left, dtypes, env)
        pr, cr = _eval_stats(pred.right, dtypes, env)
        return pl | pr, cl | cr
    if isinstance(pred, Not):
        pc, cc = _eval_stats(pred.child, dtypes, env)
        return ~cc, ~pc & _never_null(pred.child)
    raise TypeError(f"not a Pred: {pred!r}")


def chunk_stats_frame(chunks: DataFrame, columns: list[str]) -> DataFrame:
    """One row per chunk_id with (mn, mx, nc, nv, mh, bl, tg) per
    referenced column, named ``{column}_{stat}``. The chunk table holds
    one row per (chunk, column), so a single column is a plain filter +
    rename of its rows (no shuffle); several columns take a groupBy+pivot
    over metadata columns only (payloads pruned from the scan), one small
    shuffle regardless of table size."""
    for digest_col in ("member_hashes", "member_bloom", "trigram_bloom"):
        if digest_col not in chunks.columns:
            # chunk tables persisted before a digest column existed read
            # back without it — treat as "no digest" (sound, never prunes)
            chunks = chunks.withColumn(
                digest_col, F.lit(None).cast("array<bigint>")
            )
    stat_src = {
        "mn": "min_val", "mx": "max_val", "nc": "null_count", "nv": "n_values",
        "mh": "member_hashes", "bl": "member_bloom", "tg": "trigram_bloom",
    }
    if len(columns) == 1:
        (c,) = columns
        return chunks.filter(F.col("column") == c).select(
            "chunk_id", *[F.col(src).alias(f"{c}_{k}") for k, src in stat_src.items()]
        )
    return (
        chunks.filter(F.col("column").isin(columns))
        .groupBy("chunk_id")
        .pivot("column", columns)
        .agg(*[F.first(src).alias(k) for k, src in stat_src.items()])
    )


def chunk_verdicts(
    chunks: DataFrame,
    pred: Pred,
    schema_cols: list[tuple[str, int, str]],
) -> DataFrame:
    """One metadata row per chunk: (chunk_id, __p possible, __c certain),
    null-safe in the conservative direction (an unexpectedly NULL verdict
    keeps the chunk and never certain-drops it). Unknown referenced
    columns raise (ExampleReadSupport.java:88 fail-fast contract)."""
    dtypes = {c: d for c, _, d in schema_cols}
    refs = sorted(referenced_columns(pred))
    unknown = [c for c in refs if c not in dtypes]
    if unknown:
        raise ValueError(f"predicate references unknown columns: {unknown}")
    stats = chunk_stats_frame(chunks, refs)
    stats, env = materialize_large_isin(stats, pred, dtypes)
    possible, certain = _eval_stats(pred, dtypes, env)
    return stats.select(
        "chunk_id",
        F.coalesce(possible, F.lit(True)).alias("__p"),
        F.coalesce(certain, F.lit(False)).alias("__c"),
    )


# ------------------------------------------------- the Python stats evaluator

# the chunk-table columns stats_verdict reads from one (chunk, column) row
STAT_KEYS = (
    "null_count", "n_values", "min_val", "max_val",
    "member_hashes", "member_bloom", "trigram_bloom",
)
_TS_DTYPES = ("timestamp", "timestamp_ntz")
_EPOCH = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
_NA = object()  # a (literal, dtype) pairing the evaluator leaves unjudged


@dataclass(frozen=True)
class _Instant:
    """A timestamp literal as Spark holds it: microseconds since the epoch."""
    us: int


@dataclass(frozen=True)
class _Day:
    """A date literal as Spark holds it: days since the epoch."""
    days: int


def lower_literals(pred: Pred, naive_is_wall_clock: bool = False) -> Pred:
    """Driver side: date and datetime literals -> their internal ints.
    A datetime converts with ``TimestampType.toInternal`` — what
    ``F.lit`` sends, so a naive one reads in this process's local zone —
    unless ``naive_is_wall_clock`` (data-source filters on a
    timestamp_ntz column carry the naive wall clock; it then compares
    with stats read in UTC)."""

    def lit(v):
        if isinstance(v, _dt.datetime):
            if naive_is_wall_clock and v.tzinfo is None:
                return _Instant(T.TimestampNTZType().toInternal(v))
            return _Instant(T.TimestampType().toInternal(v))
        if isinstance(v, _dt.date):
            return _Day(T.DateType().toInternal(v))
        return v

    if isinstance(pred, Cmp):
        return Cmp(pred.op, pred.column, lit(pred.value))
    if isinstance(pred, IsIn):
        return IsIn(pred.column, tuple(lit(v) for v in pred.values))
    if isinstance(pred, (And, Or)):
        return type(pred)(
            lower_literals(pred.left, naive_is_wall_clock),
            lower_literals(pred.right, naive_is_wall_clock),
        )
    if isinstance(pred, Not):
        return Not(lower_literals(pred.child, naive_is_wall_clock))
    return pred


@lru_cache(maxsize=16)
def _zone(tz: str) -> _dt.tzinfo | None:
    """Spark session time zone id -> tzinfo, or None when unresolvable
    (then timestamp_ntz stats stay unjudged — sound)."""
    from zoneinfo import ZoneInfo

    m = re.fullmatch(r"(?:UTC|GMT)?([+-])(\d{1,2}):?(\d{2})?", tz)
    if m:
        off = _dt.timedelta(hours=int(m.group(2)), minutes=int(m.group(3) or 0))
        return _dt.timezone(-off if m.group(1) == "-" else off)
    try:
        return ZoneInfo("UTC" if tz == "Z" else tz)
    except (ValueError, KeyError, OSError):
        return None


def _stat_value(s: str | None, dtype: str, zone):
    """Stored stat string -> the value ``_typed``'s cast yields (None =
    unbounded). A naive timestamp stat reads as wall clock in ``zone``,
    as Spark's string-to-timestamp cast does in the session zone."""
    if s is None:
        return None
    if dtype in typemap.INT_DTYPES or dtype == "boolean":
        return int(s)
    if dtype in typemap.FLOAT_DTYPES:
        return float(s)
    if typemap.is_decimal(dtype):
        return Decimal(s)
    if dtype == "date":
        return T.DateType().toInternal(_dt.date.fromisoformat(s))
    if dtype in _TS_DTYPES:
        t = _dt.datetime.fromisoformat(s)
        if t.tzinfo is None:
            if zone is None:
                return _NA
            t = t.replace(tzinfo=zone)
        return (t - _EPOCH) // _dt.timedelta(microseconds=1)
    return s


def _lit_value(v, dtype: str):
    """A literal in the stats domain of ``dtype``, or _NA where Spark
    would coerce the pair in a way this evaluator does not model."""
    if isinstance(v, bool):
        return int(v) if dtype == "boolean" else _NA
    if isinstance(v, _Instant):
        return v.us if dtype in _TS_DTYPES else _NA
    if isinstance(v, _Day):
        return v.days if dtype == "date" else _NA
    if isinstance(v, str):
        return v if dtype == "string" else _NA
    numeric = dtype in _NUMERIC or dtype == "boolean" or typemap.is_decimal(dtype)
    if numeric and isinstance(v, (int, float, Decimal)):
        return v
    return _NA


def _order_key(x):
    """Spark's total order on doubles: NaN sorts above every value."""
    return (1, 0.0) if isinstance(x, float) and math.isnan(x) else (0, x)


def _compare(a, op: str, b) -> bool:
    """``a op b`` for a present stat ``a`` and a literal ``b`` of one
    domain: a float on either side compares both as double (Spark widens
    bigint and decimal to double against a double)."""
    if isinstance(a, float) != isinstance(b, float):
        a, b = float(a), float(b)
    ka, kb = _order_key(a), _order_key(b)
    return {
        "gt": ka > kb, "ge": ka >= kb, "lt": ka < kb, "le": ka <= kb, "eq": ka == kb,
    }[op]


def _bloom_admits(words, h: int) -> bool:
    """Python twin of ``bloom_hit_expr``: every probed bit set."""
    w = stats_lib._BLOOM_BITS_PER_WORD
    return all(words[p // w] >> (p % w) & 1 for p in stats_lib.bloom_positions(h))


def _py_never_null(pred: Pred, stats: dict) -> bool:
    """Python twin of ``_never_null``."""
    if isinstance(pred, (IsNull, NotNull)):
        return True
    if isinstance(pred, IsIn) and None in pred.values:
        return False
    if isinstance(pred, (And, Or)):
        return _py_never_null(pred.left, stats) and _py_never_null(pred.right, stats)
    if isinstance(pred, Not):
        return _py_never_null(pred.child, stats)
    st = stats.get(pred.column)
    return st is not None and st["null_count"] == 0


def stats_verdict(
    pred: Pred, stats: dict, dtypes: dict[str, str], tz: str = "UTC"
) -> tuple[bool, bool]:
    """(possible, certain) of ``pred`` for one chunk, in pure Python: the
    twin of ``_eval_stats`` for code with no SparkSession. ``stats`` maps
    each column to its chunk-table row's ``STAT_KEYS`` fields; a column
    with no row (schema evolution) leaves its leaves unjudged
    (possible, never certain). Literals must be lowered on the driver
    (``lower_literals``); ``tz`` is the session zone naive timestamp
    stats are read in."""
    return _py_eval(pred, stats, dtypes, _zone(tz))


def _py_eval(pred: Pred, stats: dict, dtypes: dict, zone) -> tuple[bool, bool]:
    if isinstance(pred, And):
        pl, cl = _py_eval(pred.left, stats, dtypes, zone)
        pr, cr = _py_eval(pred.right, stats, dtypes, zone)
        return pl and pr, cl and cr
    if isinstance(pred, Or):
        pl, cl = _py_eval(pred.left, stats, dtypes, zone)
        pr, cr = _py_eval(pred.right, stats, dtypes, zone)
        return pl or pr, cl or cr
    if isinstance(pred, Not):
        pc, cc = _py_eval(pred.child, stats, dtypes, zone)
        return not cc, not pc and _py_never_null(pred.child, stats)
    st = stats.get(pred.column)
    if st is None:
        return True, False
    dtype = dtypes[pred.column]
    nc, nv = st["null_count"], st["n_values"]
    has_non_null, no_nulls = nc < nv, nc == 0
    if isinstance(pred, IsNull):
        return nc > 0, nc == nv
    if isinstance(pred, NotNull):
        return has_non_null, no_nulls
    if isinstance(pred, Cmp):
        return _py_cmp(pred, st, dtype, zone)
    if isinstance(pred, IsIn):
        if len(pred.values) > _ISIN_EXPAND_MAX:
            return _py_large_isin(pred, st, dtype, zone)
        parts = [
            _py_cmp(Cmp("eq", pred.column, v), st, dtype, zone)
            for v in pred.values
            if v is not None
        ]
        return any(p for p, _ in parts), any(c for _, c in parts)
    if isinstance(pred, Prefix):
        return _py_prefix(pred.value, st, dtype, has_non_null, no_nulls)
    if isinstance(pred, (Substr, Rlike)):
        possible = has_non_null
        if dtype != "string":
            return possible, False
        if isinstance(pred, Substr):
            needles = [pred.value]
        else:
            prefix = rlike_prefix(pred.pattern)
            if prefix is not None:
                possible, _ = _py_prefix(prefix, st, dtype, has_non_null, no_nulls)
            needles = rlike_literals(pred.pattern)
        tg = st.get("trigram_bloom")
        for needle in needles:
            for h in stats_lib.trigram_hashes(needle) or ():
                possible = possible and (tg is None or _bloom_admits(tg, h))
        return possible, False
    raise TypeError(f"not a Pred: {pred!r}")


def _py_prefix(p: str, st: dict, dtype: str, has_non_null: bool, no_nulls: bool):
    if dtype != "string":
        return has_non_null, False
    mn, mx = st["min_val"], st["max_val"]
    possible = has_non_null and (mx is None or mx >= p)
    certain = no_nulls and mn is not None and mn >= p
    succ = prefix_successor(p)
    if succ is not None:
        possible = possible and (mn is None or mn < succ)
        certain = certain and mx is not None and mx < succ
    return possible, certain


def _py_cmp(pred: Cmp, st: dict, dtype: str, zone) -> tuple[bool, bool]:
    nc, nv = st["null_count"], st["n_values"]
    has_non_null, no_nulls = nc < nv, nc == 0
    v = _lit_value(pred.value, dtype)
    mn, mx = _stat_value(st["min_val"], dtype, zone), _stat_value(st["max_val"], dtype, zone)
    if v is _NA or mn is _NA or mx is _NA:
        return has_non_null, False  # a NULL operand fails every comparison
    op = pred.op

    def cmp(a, o):  # a present stat against v
        return _compare(a, o, v)

    if op in ("gt", "ge"):
        return (
            has_non_null and (mx is None or cmp(mx, op)),
            no_nulls and mn is not None and cmp(mn, op),
        )
    if op in ("lt", "le"):
        return (
            has_non_null and (mn is None or cmp(mn, op)),
            no_nulls and mx is not None and cmp(mx, op),
        )
    all_eq = mn is not None and mx is not None and cmp(mn, "eq") and cmp(mx, "eq")
    h = stats_lib.member_hash_for(pred.value, dtype)
    mh, bl = st.get("member_hashes"), st.get("member_bloom")
    if op == "eq":
        possible = (
            has_non_null
            and (mn is None or cmp(mn, "le"))
            and (mx is None or cmp(mx, "ge"))
        )
        if h is not None:
            possible = (
                possible
                and (mh is None or h in mh)
                and (bl is None or _bloom_admits(bl, h))
            )
        return possible, no_nulls and all_eq
    if op == "ne":
        certain = no_nulls and (
            (mx is not None and cmp(mx, "lt")) or (mn is not None and cmp(mn, "gt"))
        )
        if h is not None:
            certain = certain or (
                no_nulls and mh is not None and h not in mh
            ) or (no_nulls and bl is not None and not _bloom_admits(bl, h))
        return has_non_null and not all_eq, certain
    raise ValueError(op)  # pragma: no cover


def _py_large_isin(pred: IsIn, st: dict, dtype: str, zone) -> tuple[bool, bool]:
    """Python twin of ``materialize_large_isin`` for one chunk."""
    vals = [v for v in pred.values if v is not None]
    if not vals:
        return False, False
    nc, nv = st["null_count"], st["n_values"]
    possible = nc < nv
    lo, hi = _isin_envelope(vals, dtype)
    if lo is not None:
        mn = _stat_value(st["min_val"], dtype, zone)
        mx = _stat_value(st["max_val"], dtype, zone)
        lo_v, hi_v = _lit_value(lo, dtype), _lit_value(hi, dtype)
        if _NA not in (mn, mx, lo_v, hi_v):
            possible = (
                possible
                and (mn is None or _compare(mn, "le", hi_v))
                and (mx is None or _compare(mx, "ge", lo_v))
            )
    hs = [stats_lib.member_hash_for(v, dtype) for v in vals]
    mh = st.get("member_hashes")
    if all(h is not None for h in hs) and mh is not None:
        possible = possible and not set(hs).isdisjoint(mh)
    canon = _canon_stat_strings(tuple(vals), dtype)
    raw_mn, raw_mx = st["min_val"], st["max_val"]
    certain = (
        canon is not None
        and raw_mn is not None
        and raw_mn == raw_mx
        and nc == 0
        and raw_mn in set(canon)
    )
    return possible, certain


def prune_chunks(
    chunks: DataFrame,
    pred: Pred,
    schema_cols: list[tuple[str, int, str]] | None = None,
) -> DataFrame:
    """Chunk rows of chunks whose stats say the predicate is *possible* —
    the coarse half."""
    from .decoder import discover_schema

    if schema_cols is None:
        schema_cols = discover_schema(chunks)
    v = chunk_verdicts(chunks, pred, schema_cols)
    # AQE-decided semi-join (no forced broadcast): an unselective predicate
    # at 100 TB keeps billions of chunk ids — see semi_join_surviving
    return semi_join_surviving(chunks, v.filter("__p").select("chunk_id"))


def filter_decode_pred(
    chunks: DataFrame,
    pred: Pred,
    columns: list[str] | None = None,
    schema_cols: list[tuple[str, int, str]] | None = None,
    colocated: bool = False,
) -> DataFrame:
    """Two-phase decode under an arbitrary predicate tree: stats-based
    chunk skip + exact recheck (the composed-algebra generalization of
    filter_decode; O7-O16 over cross-column boolean trees).

    The skip runs inside the decode kernel: after a chunk's structural
    checks (a chunk-id collision fails whatever the predicate), the
    kernel evaluates ``stats_verdict`` over the chunk's stats rows of the
    referenced columns — already in the scan, as those columns decode
    for the recheck — and drops the chunk before decoding any payload.
    So the whole query is the scan plus one Python stage, with no verdict
    job and no semi-join. Scale cost: the old semi-join never reached
    into the Parquet scan either, so pruned chunks' payloads were read
    from disk before too; what is new is that the needed columns'
    payloads of pruned chunks now cross the Arrow pipe into the kernel,
    and with ``colocated=False`` they also cross the decode shuffle."""
    from .decoder import _decode, discover_schema

    if schema_cols is None:
        schema_cols = discover_schema(chunks)
    dtypes = {c: d for c, _, d in schema_cols}
    refs = referenced_columns(pred)
    unknown = sorted(c for c in refs if c not in dtypes)
    if unknown:
        raise ValueError(f"predicate references unknown columns: {unknown}")
    need = columns if columns is None else sorted(set(columns) | refs)
    tz = chunks.sparkSession.conf.get("spark.sql.session.timeZone")
    out = _decode(
        chunks, columns=need, schema_cols=schema_cols, colocated=colocated,
        prune=(lower_literals(pred), tz),
    )
    out = out.filter(to_spark(pred))
    if columns is not None and set(columns) != set(need):
        out = out.select(*[F.col(f"`{c}`") for c in columns])
    return out


def pushdown_stats_pred(
    chunks: DataFrame,
    pred: Pred,
    schema_cols: list[tuple[str, int, str]] | None = None,
) -> dict:
    """Pruning-effectiveness report for a predicate tree."""
    total = chunks.select("chunk_id").distinct().count()
    kept = (
        prune_chunks(chunks, pred, schema_cols)
        .select("chunk_id")
        .distinct()
        .count()
    )
    return {"chunks_total": total, "chunks_kept": kept, "chunks_skipped": total - kept}
