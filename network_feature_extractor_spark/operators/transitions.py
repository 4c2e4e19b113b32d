"""Categorical-sequence features (SURVEY.md §2.3 A7, §2.4 W6-W8, W11).

The reference tracks TCP-flag counters and flag-sequence patterns
(``src/feature_extraction/flag_analysis.py``); the transcript analog is
role/tool values and their transitions:

- A7  per-value counts (fin/syn/... -> cnt_user, cnt_assistant, ...)
  and specific-combination counts (SYN-ACK -> user->assistant, ...).
- W6  ordered trigram pattern (3-way handshake -> user->assistant->tool).
- W7  abnormal bigrams (SYN->SYN -> user->user repeats, etc).
- W8  bigram statistics: distinct transition pairs, sequence complexity
  = distinct / min(n-1, 10) (``flag_analysis.py:510-542``), most-common
  bigram count (``:585-617``).
- W11 top-k: the most common bigram's count.

``sequence_features`` (the snapshot's transition module) computes all of
them from one lagged window and a two-level aggregation; the other
per-key operators here serve the catalog. Everything is lag() + conditional
aggregation — no UDFs, fully codegen'd.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.islands import with_session_lags

ORDER = ["ts", "turn_idx"]


def with_prev_role(
    df: DataFrame, key: str | list[str] = "conv_id", role_col: str = "role"
) -> DataFrame:
    """Lagged role columns partitioned by the FULL key list: when called
    with (conv_id, session_id) the sequence resets at session boundaries,
    matching the reference's per-flow sequence extraction
    (``flag_analysis.py:_extract_flag_sequence`` — sequences never span
    flow expiry)."""
    keys = [key] if isinstance(key, str) else list(key)
    w = Window.partitionBy(*keys).orderBy(*ORDER)
    return df.withColumn("prev_role", F.lag(role_col).over(w)).withColumn(
        "prev2_role", F.lag(role_col, 2).over(w)
    )


def composite_sequence_flags(
    df: DataFrame,
    key_cols: list[str],
    role_col: str = "role",
    teardown_values: tuple[str, str] = ("tool", "assistant"),
    abnormal_self: tuple[str, ...] = ("user",),
    abnormal_pairs: tuple[tuple[str, str], ...] = (("assistant", "user"),),
) -> DataFrame:
    """W7 composite per-key flags, reference semantics:

    - ``has_teardown`` (``flag_analysis.py:476-508``): sequence length
      >= 4 AND >= 2 occurrences of each ``teardown_values`` member
      (FIN-ACK / ACK analog — whole-sequence value counts, not adjacency).
    - ``has_abnormal`` / ``abnormal_count`` (``flag_analysis.py:544-583``):
      adjacent positions where the value repeats itself for any
      ``abnormal_self`` member (SYN->SYN, FIN->FIN analogs) or matches an
      ``abnormal_pairs`` combination (SYN-ACK->RST analog); requires a
      sequence of >= 2 (no pairs otherwise, naturally 0).

    Same single window partition as the other sequence features — shares
    their exchange; everything else is conditional aggregation.
    """
    d = with_prev_role(df, key=key_cols, role_col=role_col)
    ta, tb = teardown_values
    abnormal_hit = F.lit(False)
    for v in abnormal_self:
        abnormal_hit = abnormal_hit | (
            (F.col("prev_role") == v) & (F.col(role_col) == v)
        )
    for a, b in abnormal_pairs:
        abnormal_hit = abnormal_hit | (
            (F.col("prev_role") == a) & (F.col(role_col) == b)
        )
    g = d.groupBy(*key_cols).agg(
        F.count("*").alias("_n"),
        F.sum(F.when(F.col(role_col) == ta, 1).otherwise(0)).alias("_cnt_ta"),
        F.sum(F.when(F.col(role_col) == tb, 1).otherwise(0)).alias("_cnt_tb"),
        F.sum(F.when(abnormal_hit, 1).otherwise(0)).cast("long").alias("abnormal_count"),
    )
    return g.select(
        *key_cols,
        (
            (F.col("_n") >= 4) & (F.col("_cnt_ta") >= 2) & (F.col("_cnt_tb") >= 2)
        ).cast("long").alias("has_teardown"),
        (F.col("abnormal_count") > 0).cast("long").alias("has_abnormal"),
        "abnormal_count",
    )


def contains_vs_exact_counts(
    df: DataFrame,
    key_cols: list[str],
    role_col: str = "role",
    tool_col: str = "tool",
    roles: tuple[str, ...] = ("user", "assistant", "system", "tool"),
) -> DataFrame:
    """A7 "contains-bit" vs exact-combination counts
    (``flag_analysis.py:641-656``: packets *containing* each flag bit vs
    exact flag-combination counts). Transcript analog: turns mentioning a
    tool at all (any role), per-role totals, and the exact
    (role, has_tool) combination counts."""
    has_tool = F.col(tool_col).isNotNull()
    aggs = [
        F.sum(F.when(has_tool, 1).otherwise(0)).cast("long").alias("cnt_contains_toolcall"),
    ]
    for r in roles:
        aggs.append(
            F.sum(F.when(F.col(role_col) == r, 1).otherwise(0))
            .cast("long")
            .alias(f"cnt_contains_{r}")
        )
        aggs.append(
            F.sum(F.when((F.col(role_col) == r) & has_tool, 1).otherwise(0))
            .cast("long")
            .alias(f"cnt_exact_{r}_tool")
        )
    return df.groupBy(*key_cols).agg(*aggs)


def sequence_features(
    df: DataFrame,
    key_cols: list[str],
    role_col: str = "role",
    tool_col: str = "tool",
    roles: tuple[str, ...] = ("user", "assistant", "system", "tool"),
    pairs: tuple[tuple[str, str], ...] = (
        ("user", "assistant"),
        ("assistant", "user"),
        ("assistant", "tool"),
        ("tool", "assistant"),
        ("user", "user"),
        ("assistant", "assistant"),
    ),
    trigram: tuple[str, str, str] = ("user", "assistant", "tool"),
    teardown_values: tuple[str, str] = ("tool", "assistant"),
    abnormal_self: tuple[str, ...] = ("user",),
    abnormal_pairs: tuple[tuple[str, str], ...] = (("assistant", "user"),),
) -> DataFrame:
    """Every per-key sequence feature from ONE lagged window and a
    two-level aggregation: per (key, previous role, role), then per key.

    - A7/W7 ``trans_<a>_<b>``: exact-combination counts; the (x,x)
      self-pairs are the reference's "abnormal sequence" detectors
      (SYN->SYN etc., ``flag_analysis.py:544-583``).
    - W6 ``has_handshake`` / ``handshake_count``: rows completing the
      ``trigram`` prev2->prev->current (3-way handshake analog). The
      match is null-safe, so every key decides it: a one-turn session
      reads 0.
    - W7 ``has_teardown`` / ``has_abnormal`` / ``abnormal_count``: the
      ``composite_sequence_flags`` semantics.
    - A7 ``cnt_contains_*`` / ``cnt_exact_*_tool``: the
      ``contains_vs_exact_counts`` semantics.
    - W8 ``distinct_bigrams``, ``top_bigram_count`` (W11: the most common
      pair's count), ``n_bigrams`` and ``seq_complexity`` = distinct /
      min(n_bigrams, 10) (``flag_analysis.py:510-542``, ``:585-617``).
      Null on a key without a bigram (one turn).

    Pairs never span keys, so with (conv_id, session_id) sequences reset
    at session boundaries, like the reference's per-flow extraction.
    """
    d = with_session_lags(df, key_cols, role_col=role_col)
    prev, prev2, cur = F.col("_prev_role"), F.col("_prev2_role"), F.col(role_col)
    ga, gb, gc = trigram
    pattern_hit = (prev2.eqNullSafe(ga) & prev.eqNullSafe(gb) & cur.eqNullSafe(gc)).cast("int")
    per_pair = d.groupBy(*key_cols, prev.alias("_a"), cur.alias("_b")).agg(
        F.count("*").alias("_c"),
        F.max(pattern_hit).alias("_hs_max"),
        F.sum(pattern_hit).alias("_hs_sum"),
        F.sum(F.col(tool_col).isNotNull().cast("long")).alias("_tool"),
    )

    a, b, c = F.col("_a"), F.col("_b"), F.col("_c")

    def count_where(cond, v=c):
        return F.sum(F.when(cond, v).otherwise(0)).cast("long")

    abnormal_hit = F.lit(False)
    for v in abnormal_self:
        abnormal_hit = abnormal_hit | ((a == v) & (b == v))
    for x, y in abnormal_pairs:
        abnormal_hit = abnormal_hit | ((a == x) & (b == y))
    ta, tb = teardown_values
    bigram = a.isNotNull()
    g = per_pair.groupBy(*key_cols).agg(
        *[count_where((a == x) & (b == y)).alias(f"trans_{x}_{y}") for x, y in pairs],
        F.max("_hs_max").cast("long").alias("has_handshake"),
        F.sum("_hs_sum").cast("long").alias("handshake_count"),
        F.sum(c).alias("_n"),
        count_where(b == ta).alias("_cnt_ta"),
        count_where(b == tb).alias("_cnt_tb"),
        count_where(abnormal_hit).alias("abnormal_count"),
        F.sum("_tool").cast("long").alias("cnt_contains_toolcall"),
        *[
            agg
            for r in roles
            for agg in (
                count_where(b == r).alias(f"cnt_contains_{r}"),
                count_where(b == r, F.col("_tool")).alias(f"cnt_exact_{r}_tool"),
            )
        ],
        # sums/max over no bigram stay null, as a per-key count would not
        F.sum(F.when(bigram, 1)).cast("long").alias("distinct_bigrams"),
        F.max(F.when(bigram, c)).cast("long").alias("top_bigram_count"),
        F.sum(F.when(bigram, c)).cast("long").alias("n_bigrams"),
    )
    return g.select(
        *key_cols,
        *[f"trans_{x}_{y}" for x, y in pairs],
        "has_handshake",
        "handshake_count",
        (
            (F.col("_n") >= 4) & (F.col("_cnt_ta") >= 2) & (F.col("_cnt_tb") >= 2)
        ).cast("long").alias("has_teardown"),
        (F.col("abnormal_count") > 0).cast("long").alias("has_abnormal"),
        "abnormal_count",
        "cnt_contains_toolcall",
        *[x for r in roles for x in (f"cnt_contains_{r}", f"cnt_exact_{r}_tool")],
        "distinct_bigrams",
        "top_bigram_count",
        "n_bigrams",
        (
            F.col("distinct_bigrams")
            / F.least(F.col("n_bigrams").cast("double"), F.lit(10.0))
        ).alias("seq_complexity"),
    )
