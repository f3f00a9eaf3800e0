"""Event-level enhancers: masking/normalization, token derivation, lengths.

Spark-native re-expression of the reference's EventLogEnhancer
(/root/reference/loglead/enhancers/eventlog.py). Everything here is a narrow
transformation (withColumn over built-in expressions) — zero shuffles, fully
inside whole-stage codegen; the reference's eval-fused Polars chain
(eventlog.py:403-429) is matched by Catalyst's own expression fusion.

Parity notes:
* Masking regexes are the reference's capture-group variants applied TWICE
  (eventlog.py:12-23, 421-425): the regex consumes the delimiter, so adjacent
  matches need a second pass. This is deliberately replicated — the
  correctness contract is per-row token-array equality (BASELINE.json), so we
  must not "fix" the overlap quirk. Only syntax differs: Java named groups
  are ``(?<name>…)`` and replacements ``${name}`` (both supported natively).
  The second pass is skipped where the first one left the line unchanged:
  if f(x) = x then f(f(x)) = f(x) = x, so the skip is exact and the output
  is bit-for-bit the reference's. Most lines match a pattern at most once,
  so this halves the regex work without touching the overlap quirk.
* ``words`` splits on a single literal space, keeping empty tokens
  (eventlog.py:45 semantics).
* ``trigrams`` uses the 3-shift extract_all trick (eventlog.py:82-107);
  output order is unspecified by design — set equality is the contract.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..plan_utils import let

# The drain3-default masking rules, reference eventlog.py:12-23 (capture-group
# form, Java-regex named-group syntax). Order matters: ID, IP, SEQ, SEQ2, HEX, NUM, CMD.
MASKING_PATTERNS_DRAIN: list[tuple[str, str]] = [
    ("${start}<ID>${end}", r"(?<start>[^A-Za-z0-9]|^)(([0-9a-f]{2,}:){3,}([0-9a-f]{2,}))(?<end>[^A-Za-z0-9]|$)"),
    ("${start}<IP>${end}", r"(?<start>[^A-Za-z0-9]|^)(\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3})(?<end>[^A-Za-z0-9]|$)"),
    ("${start}<SEQ>${end}", r"(?<start>[^A-Za-z0-9]|^)([0-9a-f]{6,} ?){3,}(?<end>[^A-Za-z0-9]|$)"),
    ("${start}<SEQ>${end}", r"(?<start>[^A-Za-z0-9]|^)([0-9A-F]{4} ?){4,}(?<end>[^A-Za-z0-9]|$)"),
    ("${start}<HEX>${end}", r"(?<start>[^A-Za-z0-9]|^)(0x[a-f0-9A-F]+)(?<end>[^A-Za-z0-9]|$)"),
    ("${start}<NUM>${end}", r"(?<start>[^A-Za-z0-9]|^)([\-\+]?\d+)(?<end>[^A-Za-z0-9]|$)"),
    ("${cmd}<CMD>", r"(?<cmd>executed cmd )(\".+?\")"),
]


def _mask_twice(pattern: str, key: str):
    """One pattern's step: the first pass, then the second pass only where
    the first one changed the line (exact, see the module docstring).

    The line and its first pass are let-bound as a pair, so the step
    references its input once and the chain stays linear in the number of
    patterns when the optimizer inlines it (a filter pushed through the
    projection copies the whole chain into the filter). The inner lambda
    must not capture the outer one's variable: Spark then fails to extract
    a pandas UDF applied downstream (Drain's assignment)."""

    def step(line: Column) -> Column:
        return let(
            F.array(line, F.regexp_replace(line, pattern, key)),
            lambda v: F.when(v[1] == v[0], v[1]).otherwise(F.regexp_replace(v[1], pattern, key)),
        )

    return step


def normalize(df: DataFrame, column: str = "m_message", to_lower: bool = False, twice: bool = True) -> DataFrame:
    """Add ``e_message_normalized``: the masked first line of ``column``
    (reference eventlog.py:403-429)."""
    if "e_message_normalized" in df.columns:
        return df
    expr = F.split(F.col(column), "\n").getItem(0)  # first line only (eventlog.py:406)
    if to_lower:
        expr = F.lower(expr)
    for key, pattern in MASKING_PATTERNS_DRAIN:
        expr = let(expr, _mask_twice(pattern, key)) if twice else F.regexp_replace(expr, pattern, key)
    return df.withColumn("e_message_normalized", expr)


def words(df: DataFrame, column: str = "m_message") -> DataFrame:
    """Add ``e_words`` (split on single space) + ``e_words_len`` (eventlog.py:42-51)."""
    if "e_words" in df.columns:
        return df
    return df.withColumn("e_words", F.split(F.col(column), " ")).withColumn(
        "e_words_len", F.size("e_words")
    )


def alphanumerics(df: DataFrame, column: str = "m_message") -> DataFrame:
    """Add ``e_alphanumerics`` = all [a-zA-Z0-9]+ runs + length (eventlog.py:54-64)."""
    if "e_alphanumerics" in df.columns:
        return df
    return df.withColumn(
        "e_alphanumerics", F.regexp_extract_all(F.col(column), F.lit(r"[a-zA-Z\d]+"), F.lit(0))
    ).withColumn("e_alphanumerics_len", F.size("e_alphanumerics"))


def trigrams(df: DataFrame, column: str = "m_message") -> DataFrame:
    """Add ``e_trigrams``: all char 3-grams via the 3-shift trick (eventlog.py:82-107).

    No UDF: three shifted non-overlapping extract_all passes concatenated.
    Order is 'not arranged' in the reference too — set equality is the contract.
    """
    if "e_trigrams" in df.columns:
        return df

    def shifted(start: int) -> Column:
        return F.regexp_extract_all(F.substring(F.col(column), start + 1, 1 << 30), F.lit(".{3}"), F.lit(0))

    return df.withColumn(
        "e_trigrams", F.concat(shifted(0), shifted(1), shifted(2))
    ).withColumn("e_trigrams_len", F.size("e_trigrams"))


def length(df: DataFrame, column: str = "m_message") -> DataFrame:
    """Add ``e_chars_len``, ``e_lines_len``, ``e_event_id_len`` (eventlog.py:392-401)."""
    if "e_chars_len" in df.columns:
        return df
    return (
        df.withColumn("e_chars_len", F.length(column))
        # alternation ordered LONGEST-FIRST: with (\n|\r|\r\n) the \r branch
        # wins before \r\n can match, so a CRLF counted as TWO breaks and
        # the \r\n alternative was dead code (round-4 review fix)
        .withColumn("e_lines_len", F.regexp_count(F.col(column), F.lit("(\r\n|\r|\n)")))
        .withColumn("e_event_id_len", F.lit(1))
    )


def event_id(df: DataFrame, column: str = "e_message_normalized", parser: str = "mask") -> DataFrame:
    """Deterministic template id: 'e' + md5(template)[:8].

    The reference's md5[:8] id convention (AEL.py:32, eventlog.py:329,358);
    unlike drain3's arrival-order ids (eventlog.py:191) this is deterministic
    under any partitioning — required for distributed equality.
    """
    out = f"e_event_{parser}_id"
    if out in df.columns:
        return df
    return df.withColumn(out, F.concat(F.lit("e"), F.substring(F.md5(F.col(column)), 1, 8)))


def distributed_cumsum(
    df: DataFrame,
    value: Column,
    order_cols: list[Column],
    out_column: str,
    num_partitions: int | None = None,
    persist_ranged: bool = True,
    ranged_out: list | None = None,
) -> DataFrame:
    """Globally-ordered running sum WITHOUT a single-task global window —
    the classic two-phase distributed prefix sum:

      1. range-partition on the order key (rows stay distributed),
      2. per-partition local cumsum (window partitioned by the physical
         partition id — parallel),
      3. per-partition totals (a #partitions-sized frame) get their own
         cumulative offsets, broadcast back, and added to the local sums.

    Exact for totally-ordered keys (callers pass a unique tie-break column);
    the single sequential step is the offsets fold over #partitions rows,
    never over data. This upgrades item_cumsum from 'report-scale only'
    (round-1 plan audit) to a 100-TB-shaped operator.

    Two passes over the ranged frame are inherent to distributed prefix
    computation (pass 1 = per-partition totals, pass 2 = apply offsets —
    same shape as Spark's own zipWithIndex). The ranged frame is PERSISTED
    by default: the local-sums and offsets subtrees both read it, and
    ``spark_partition_id()`` is partition-layout-dependent — if the two
    subtrees re-evaluated the range exchange independently over a
    nondeterministic upstream (post-shuffle row order changes the range
    sampler's splits), ``_pid`` assignments could differ between them and
    silently corrupt the result. Persisting pins one materialization of the
    frame for both subtrees (the same guard brain.py applies to its _rid).
    Pass ``persist_ranged=False`` only when the input lineage is
    deterministic (e.g. a sorted parquet scan) and memory is tight.

    ``ranged_out``: optional caller-supplied list the persisted ranged
    frame is appended to, so a caller that fully materializes the result
    within its own call can unpersist it afterwards (mixture.py does —
    its result is source-cardinality-sized, so nothing needs the cache
    once the cutoffs are collected). Without it the cache lives until
    clearCache, the historical behavior item_cumsum callers rely on.
    """
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    d = df.repartitionByRange(n, *order_cols).withColumn("_pid", F.spark_partition_id())
    if persist_ranged:
        d = d.persist()
        if ranged_out is not None:
            ranged_out.append(d)
    local_w = Window.partitionBy("_pid").orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    local = d.withColumn("_local", F.sum(value).over(local_w))
    off_w = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    # totals from the range-partitioned frame directly (no second window);
    # both subtrees read the persisted ranged frame (see docstring)
    offsets = (
        d.groupBy("_pid")
        .agg(F.sum(value).alias("_t"))
        .withColumn("_off", F.coalesce(F.sum("_t").over(off_w), F.lit(0)))
        .select("_pid", "_off")
    )
    from pyspark.sql.functions import broadcast

    return (
        local.join(broadcast(offsets), "_pid")
        .withColumn(out_column, F.col("_local") + F.col("_off"))
        .drop("_pid", "_local", "_off")
    )


def item_cumsum(
    df: DataFrame,
    column: str = "e_message_normalized",
    order_cols: tuple[str, ...] = ("m_timestamp",),
    ano_only: bool = True,
    unique_only: bool = True,
    descending: bool = False,
    out_column: str | None = None,
) -> DataFrame:
    """Running count of (optionally first-distinct, optionally anomalous) items.

    Reference item_cumsum/item_cumsum2 (eventlog.py:433-489). Polars relies on
    implicit row order; here order is explicit (SURVEY.md §4.2 #5). The running
    total goes through ``distributed_cumsum`` (two-phase prefix sum), so the
    op is partition-parallel — no single-task global window.
    ``unique_only`` = first-occurrence flag via row_number over the item window.
    """
    if out_column is None:
        # build the suffix first: the old ("cumu_items_" + ...) or "cumu_items"
        # fallback was dead code ('cumu_items_' is truthy), leaving a
        # trailing-underscore column name when both flags are off
        suffix = ("un" if unique_only else "") + ("an" if ano_only else "")
        out_column = f"cumu_items_{suffix}" if suffix else "cumu_items"
    order = [F.col(c).desc() if descending else F.col(c).asc() for c in order_cols]
    cond = F.lit(True)
    if unique_only:
        first_w = Window.partitionBy(column).orderBy(*order)
        df = df.withColumn("_first_flag", F.row_number().over(first_w) == 1)
        cond = F.col("_first_flag")
    if ano_only:
        cond = cond & F.col("anomaly")
    out = distributed_cumsum(df, cond.cast("int"), order, out_column)
    return out.drop("_first_flag") if unique_only else out


class EventLogEnhancer:
    """Thin chainable wrapper mirroring the reference API (eventlog.py:30+)."""

    def __init__(self, df: DataFrame):
        self.df = df

    def _require(self, cols: list[str]) -> None:
        missing = [c for c in cols if c not in self.df.columns]
        if missing:
            raise ValueError(f"Missing prerequisites for enrichment: {', '.join(missing)}")

    def normalize(self, to_lower: bool = False, twice: bool = True) -> DataFrame:
        self._require(["m_message"])
        self.df = normalize(self.df, to_lower=to_lower, twice=twice)
        return self.df

    def words(self, column: str = "m_message") -> DataFrame:
        self._require([column])
        self.df = words(self.df, column)
        return self.df

    def alphanumerics(self, column: str = "m_message") -> DataFrame:
        self._require([column])
        self.df = alphanumerics(self.df, column)
        return self.df

    def trigrams(self, column: str = "m_message") -> DataFrame:
        self._require([column])
        self.df = trigrams(self.df, column)
        return self.df

    def length(self, column: str = "m_message") -> DataFrame:
        self._require([column])
        self.df = length(self.df, column)
        return self.df

    def event_id(self, column: str = "e_message_normalized", parser: str = "mask") -> DataFrame:
        self._require([column])
        self.df = event_id(self.df, column, parser)
        return self.df

    def item_cumsum(self, **kw) -> DataFrame:
        self.df = item_cumsum(self.df, **kw)
        return self.df
