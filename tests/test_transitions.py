"""Sequence/transition semantics of the transition module and the
per-key operators, incl. the session-boundary reset rule (sequences
never span a session split, matching the reference's per-flow
extraction) and the W7 composite flags."""

from collections import Counter
from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pytest

from network_feature_extractor_spark.config import EngineConfig
from network_feature_extractor_spark.operators import transitions
from network_feature_extractor_spark.plans.registry import MODULES

PAIRS = [
    ("user", "assistant"), ("assistant", "user"), ("assistant", "tool"),
    ("tool", "assistant"), ("user", "user"), ("assistant", "assistant"),
]


def _turns(spark, rows):
    """rows: (conv_id, session_id, turn_idx, role[, tool])"""
    base = datetime(2024, 1, 1)
    data = [
        (
            r[0],
            r[1],
            r[2],
            r[3],
            r[4] if len(r) > 4 else None,
            base + timedelta(seconds=r[2]),
        )
        for r in rows
    ]
    return spark.createDataFrame(
        data,
        "conv_id string, session_id long, turn_idx int, role string, "
        "tool string, ts timestamp",
    )


def _module(d):
    return (
        MODULES["transition_analysis"](d, EngineConfig())
        .toPandas()
        .set_index(["conv_id", "session_id"])
    )


def test_bigrams_reset_at_session_boundary(spark):
    # c0: session 0 ends on 'user', session 1 starts with 'assistant'
    # -> the (user, assistant) pair across the boundary must NOT count.
    # c1: 'user' | 'user' split across sessions -> not an abnormal repeat.
    d = _turns(
        spark,
        [
            ("c0", 0, 0, "user"),
            ("c0", 0, 1, "user"),
            ("c0", 1, 2, "assistant"),
            ("c0", 1, 3, "user"),
            ("c1", 0, 0, "user"),
            ("c1", 1, 1, "user"),
        ],
    )
    out = _module(d)
    s0, s1 = out.loc[("c0", 0)], out.loc[("c0", 1)]
    assert s0["trans_user_user"] == 1
    assert s0["trans_user_assistant"] == 0  # boundary pair excluded
    assert s1["trans_user_assistant"] == 0
    assert s1["trans_assistant_user"] == 1
    # n_bigrams = n_turns - 1 per session (the documented denominator)
    assert s0["n_bigrams"] == 1 and s1["n_bigrams"] == 1
    # user->user (self repeat) in session 0, assistant->user (pair) in 1
    assert s0["abnormal_count"] == 1 and s1["abnormal_count"] == 1
    assert (out.loc["c1", "abnormal_count"] == 0).all()
    assert (out.loc["c1", "trans_user_user"] == 0).all()


def test_one_turn_sessions_keep_null_bigrams_and_handshake(spark):
    """A one-turn session has no bigram, so its bigram columns are null;
    the user->assistant->tool trigram match is null-safe, so every
    one-turn session, a 'tool' one included, reads 0 handshakes."""
    d = _turns(spark, [("c0", 0, 0, "tool"), ("c1", 0, 0, "user")])
    out = _module(d)
    for c in ("distinct_bigrams", "top_bigram_count", "n_bigrams", "seq_complexity"):
        assert out[c].isna().all(), c
    for k in (("c0", 0), ("c1", 0)):
        assert (out.loc[k, ["has_handshake", "handshake_count"]] == 0).all(), k


def test_composite_teardown_flag(spark):
    # >=4 turns, >=2 tool, >=2 assistant -> teardown
    d = _turns(
        spark,
        [
            ("c0", 0, i, r)
            for i, r in enumerate(["user", "tool", "assistant", "tool", "assistant"])
        ]
        + [("c1", 0, i, r) for i, r in enumerate(["user", "tool", "assistant"])]  # too short
        + [
            ("c2", 0, i, r)
            for i, r in enumerate(["user", "tool", "assistant", "user", "assistant"])
        ],  # only one tool
    )
    out = (
        transitions.composite_sequence_flags(d, ["conv_id", "session_id"])
        .toPandas()
        .set_index("conv_id")
    )
    assert out.loc["c0", "has_teardown"] == 1
    assert out.loc["c1", "has_teardown"] == 0
    assert out.loc["c2", "has_teardown"] == 0


def test_composite_abnormal_flag_and_count(spark):
    d = _turns(
        spark,
        [
            # user->user twice (abnormal_self), assistant->user once (pair)
            ("c0", 0, 0, "user"),
            ("c0", 0, 1, "user"),
            ("c0", 0, 2, "user"),
            ("c0", 0, 3, "assistant"),
            ("c0", 0, 4, "user"),
            # clean conversation
            ("c1", 0, 0, "user"),
            ("c1", 0, 1, "assistant"),
            ("c1", 0, 2, "tool"),
        ],
    )
    out = (
        transitions.composite_sequence_flags(
            d,
            ["conv_id", "session_id"],
            abnormal_self=("user",),
            abnormal_pairs=(("assistant", "user"),),
        )
        .toPandas()
        .set_index("conv_id")
    )
    assert out.loc["c0", "abnormal_count"] == 3
    assert out.loc["c0", "has_abnormal"] == 1
    assert out.loc["c1", "abnormal_count"] == 0
    assert out.loc["c1", "has_abnormal"] == 0


def test_abnormal_resets_at_session_boundary(spark):
    # user | user split across sessions -> not a self-repeat
    d = _turns(
        spark,
        [
            ("c0", 0, 0, "user"),
            ("c0", 1, 1, "user"),
        ],
    )
    out = transitions.composite_sequence_flags(
        d, ["conv_id", "session_id"], abnormal_self=("user",), abnormal_pairs=()
    ).toPandas()
    assert (out["abnormal_count"] == 0).all()


def test_contains_vs_exact_counts(spark):
    d = _turns(
        spark,
        [
            ("c0", 0, 0, "user", None),
            ("c0", 0, 1, "assistant", "search"),
            ("c0", 0, 2, "assistant", None),
            ("c0", 0, 3, "tool", "search"),
        ],
    )
    out = (
        transitions.contains_vs_exact_counts(d, ["conv_id"])
        .toPandas()
        .iloc[0]
    )
    assert out["cnt_contains_toolcall"] == 2  # any role mentioning a tool
    assert out["cnt_contains_assistant"] == 2
    assert out["cnt_exact_assistant_tool"] == 1  # exact (assistant, tool) combo
    assert out["cnt_exact_user_tool"] == 0
    assert out["cnt_exact_tool_tool"] == 1


_ONE_PAIR = {f"trans_{a}_{b}": int((a, b) == ("user", "assistant")) for a, b in PAIRS}


@pytest.mark.parametrize(
    "op, expected",
    [
        # the transition-count, bigram and top-bigram columns now all come
        # from sequence_features; each case checks its own columns
        pytest.param("sequence_features", _ONE_PAIR, id="transition_counts"),
        pytest.param(
            "sequence_features",
            {"distinct_bigrams": 1, "n_bigrams": 1, "seq_complexity": 1.0},
            id="bigram_stats",
        ),
        pytest.param("sequence_features", {"top_bigram_count": 1}, id="top_bigram"),
        pytest.param("composite_sequence_flags", {}, id="composite_sequence_flags"),
        pytest.param("contains_vs_exact_counts", {}, id="contains_vs_exact_counts"),
    ],
)
def test_single_key_callers_unchanged(spark, op, expected):
    # a one-column key list works as well as (conv_id, session_id)
    d = _turns(spark, [("c0", 0, 0, "user"), ("c0", 0, 1, "assistant")])
    fn = getattr(transitions, op)
    out = fn(d, ["conv_id"]).toPandas()
    assert len(out) == 1
    for c, v in expected.items():
        assert out.loc[0, c] == v, c


def _sequence_oracle(rows) -> pd.DataFrame:
    """Per (conv, session), from the role sequence in turn order."""
    seqs: dict = {}
    for conv, sid, _, role, _tool in sorted(rows, key=lambda r: (r[0], r[1], r[2])):
        seqs.setdefault((conv, sid), []).append(role)
    out = {}
    for key, seq in seqs.items():
        pairs = Counter(zip(seq, seq[1:]))
        hits = sum(t == ("user", "assistant", "tool") for t in zip(seq, seq[1:], seq[2:]))
        n = len(seq) - 1
        row = {f"trans_{a}_{b}": pairs[(a, b)] for a, b in PAIRS}
        row.update(
            has_handshake=int(hits > 0),
            handshake_count=hits,
            distinct_bigrams=len(pairs),
            top_bigram_count=max(pairs.values()),
            n_bigrams=n,
            seq_complexity=len(pairs) / min(n, 10),
        )
        out[key] = row
    return pd.DataFrame.from_dict(out, orient="index")


def test_transition_module_matches_operators_and_oracle(spark):
    """The transition module's columns equal the kept per-key operators
    (composite flags, contains/exact counts) and a pandas sequence oracle
    (transition counts, handshake, bigram statistics)."""
    rows = []
    roles = ["user", "assistant", "tool", "user", "user", "assistant",
             "system", "assistant", "tool", "assistant"]
    for c in range(6):
        for s in range(2):
            for i, r in enumerate(roles[: 4 + c]):
                rows.append((f"c{c}", s, s * 100 + i, r,
                             "search" if (i + c) % 3 == 0 else None))
    d = _turns(spark, rows)
    key = ["conv_id", "session_id"]
    got = _module(d)
    ops = (
        transitions.composite_sequence_flags(d, key)
        .join(transitions.contains_vs_exact_counts(d, key), key)
        .toPandas()
        .set_index(key)
    )
    exp = _sequence_oracle(rows)
    assert sorted(got.index) == sorted(ops.index) == sorted(exp.index)
    assert set(got.columns) == set(ops.columns) | set(exp.columns)
    for c in ops.columns:
        assert (got.loc[ops.index, c] == ops[c]).all(), c
    for c in exp.columns:
        assert np.allclose(got.loc[exp.index, c].astype(float), exp[c].astype(float)), c
