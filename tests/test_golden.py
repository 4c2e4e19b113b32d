"""Golden-snapshot regression test (SURVEY.md §5.4): the per-turn feature
vector for the seed-42 fixture is pinned to a checked-in CSV. Any
unintended semantic drift in windows/sessionization/as-of shows up as a
diff here even if the differential oracles are updated in lockstep.

On first run the golden file is materialized; afterwards it must match
to 1e-6. Regenerate deliberately with REGEN_GOLDEN=1.
"""

import os

import numpy as np
import pandas as pd

from network_feature_extractor_spark.config import EngineConfig
from network_feature_extractor_spark.datagen import generate_turns
from network_feature_extractor_spark.plans.pipeline import run_pipeline

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "per_turn_seed42.csv")

NUM_COLS = [
    "session_id", "iat", "iat_role", "rt_len_mean", "rt_len_std",
    "rt_len_min", "rt_len_max", "cnt_user_todate", "cnt_assistant_todate",
    "pattern_hit", "prev_n_turns", "prev_total_text_len", "prev_iat_mean",
    "prev_len_q50", "asof_ts",
]


def _compute(spark) -> pd.DataFrame:
    turns = generate_turns(spark, 25)
    enriched, _ = run_pipeline(turns, EngineConfig(asof_hot_threshold=40))
    cols = ["conv_id", "turn_idx"] + NUM_COLS
    pdf = (
        enriched.select(*cols)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )
    return pdf


def test_golden_per_turn_snapshot(spark):
    got = _compute(spark)
    if not os.path.exists(GOLDEN) or os.environ.get("REGEN_GOLDEN"):
        os.makedirs(os.path.dirname(GOLDEN), exist_ok=True)
        got.to_csv(GOLDEN, index=False)
    exp = pd.read_csv(GOLDEN)
    assert len(got) == len(exp)
    assert (got["conv_id"].to_numpy() == exp["conv_id"].to_numpy()).all()
    assert (got["turn_idx"].to_numpy() == exp["turn_idx"].to_numpy()).all()
    for c in NUM_COLS:
        g = got[c].astype(float).to_numpy()
        e = exp[c].astype(float).to_numpy()
        both_nan = np.isnan(g) & np.isnan(e)
        ok = both_nan | np.isclose(g, e, rtol=1e-6, atol=1e-6, equal_nan=True)
        assert ok.all(), f"golden drift in {c}: {np.flatnonzero(~ok)[:5]}"


SESSION_GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "session_seed42.csv")
SESSION_KEY = ["conv_id", "session_id"]
# a "-" cell marks a column the config's snapshot does not have; an
# empty cell is a null
ABSENT = "-"
SNAPSHOT_CONFIGS = {
    "all": EngineConfig(),
    "lean": EngineConfig(enabled_features=("basic_metrics", "text_length")),
}


def _session_snapshots(spark) -> dict[str, tuple[list[str], pd.DataFrame]]:
    """Per config: the snapshot's ``name:type`` columns in order, and its
    rows sorted by the session key."""
    turns = generate_turns(spark, 25)
    out = {}
    for name, cfg in SNAPSHOT_CONFIGS.items():
        _, snap = run_pipeline(turns, cfg)
        cols = [f"{c}:{t}" for c, t in snap.dtypes]
        pdf = snap.toPandas().sort_values(SESSION_KEY, kind="mergesort").reset_index(drop=True)
        pdf.columns = cols
        out[name] = (cols, pdf)
    return out


def _write_session_golden(snaps) -> None:
    """One wide CSV: a ``config`` column, then the all-modules columns."""
    header = snaps["all"][0]
    frames = []
    for name, (_, pdf) in snaps.items():
        cells = pdf.astype(object).where(pdf.notna(), "")
        cells = cells.reindex(columns=header, fill_value=ABSENT)
        cells.insert(0, "config", name)
        frames.append(cells)
    pd.concat(frames, ignore_index=True).to_csv(SESSION_GOLDEN, index=False)


def test_golden_session_snapshot(spark):
    """Pins the names, types, order and values of every session snapshot
    column for the all-modules and the lean config, nulls included."""
    snaps = _session_snapshots(spark)
    if not os.path.exists(SESSION_GOLDEN) or os.environ.get("REGEN_GOLDEN"):
        _write_session_golden(snaps)
    golden = pd.read_csv(SESSION_GOLDEN, dtype=str, keep_default_na=False)
    assert set(golden["config"]) == set(SNAPSHOT_CONFIGS)
    for name, (cols, got) in snaps.items():
        exp = golden[golden["config"] == name].drop(columns="config").reset_index(drop=True)
        exp = exp[[c for c in exp.columns if (exp[c] != ABSENT).all()]]
        assert cols == list(exp.columns), name
        assert len(got) == len(exp), name
        for c in cols:
            if c.endswith(":string"):
                assert (got[c].to_numpy() == exp[c].to_numpy()).all(), (name, c)
                continue
            g = got[c].astype(float).to_numpy()
            e = pd.to_numeric(exp[c].replace("", np.nan)).astype(float).to_numpy()
            ok = np.isclose(g, e, rtol=1e-6, atol=1e-6, equal_nan=True)
            assert ok.all(), f"{name} golden drift in {c}: {np.flatnonzero(~ok)[:5]}"
