"""Independent single-node pandas re-implementation of the feature
semantics (SURVEY.md §5.1 differential oracle). Written directly from
the reference formulas — NOT by calling the engine — so a bug in the
Spark code can't hide in the oracle."""

from __future__ import annotations

import numpy as np
import pandas as pd

SESSION_GAP_S = 300.0


def epoch(s: pd.Series) -> np.ndarray:
    # micros/1e6 — bit-identical to Spark's cast(timestamp as double)
    return s.astype("datetime64[us]").astype("int64").to_numpy() / 1e6


def per_turn_oracle(turns: pd.DataFrame, k: int = 5) -> pd.DataFrame:
    """iat, iat_role, session_id, rolling len stats, last_tool ffill."""
    out = []
    for conv_id, g in turns.groupby("conv_id", sort=True):
        g = g.sort_values(["ts", "turn_idx"], kind="mergesort").reset_index(drop=True)
        ets = epoch(g["ts"])
        iat = np.diff(ets, prepend=ets[0] if len(ets) else 0.0)
        iat[0] = 0.0
        session_id = np.cumsum(iat > SESSION_GAP_S)

        # per-role iat
        iat_role = np.zeros(len(g))
        last_by_role: dict[str, float] = {}
        for i, (r, t) in enumerate(zip(g["role"], ets)):
            iat_role[i] = t - last_by_role[r] if r in last_by_role else 0.0
            last_by_role[r] = t

        lens = g["text"].str.len().to_numpy(dtype=float)
        s = pd.Series(lens)
        rt_mean = s.rolling(k, min_periods=1).mean().to_numpy()
        rt_std = s.rolling(k, min_periods=1).std(ddof=0).to_numpy()
        rt_std = np.nan_to_num(rt_std)
        rt_min = s.rolling(k, min_periods=1).min().to_numpy()
        rt_max = s.rolling(k, min_periods=1).max().to_numpy()

        last_tool = g["tool"].ffill()

        out.append(
            pd.DataFrame(
                {
                    "conv_id": conv_id,
                    "turn_idx": g["turn_idx"].to_numpy(),
                    "iat": iat,
                    "iat_role": iat_role,
                    "session_id": session_id,
                    "rt_len_mean": rt_mean,
                    "rt_len_std": rt_std,
                    "rt_len_min": rt_min,
                    "rt_len_max": rt_max,
                    "last_tool": last_tool.to_numpy(),
                }
            )
        )
    return pd.concat(out, ignore_index=True)


def session_features_oracle(turns: pd.DataFrame) -> pd.DataFrame:
    """Per-(conv, session) FlowStats-analog subset, reference formulas:
    population std via moments, inf-min reported as 0, first-iat excluded."""
    pt = per_turn_oracle(turns)
    t = turns.merge(pt[["conv_id", "turn_idx", "session_id"]], on=["conv_id", "turn_idx"])
    rows = []
    for (conv_id, sid), g in t.groupby(["conv_id", "session_id"], sort=True):
        g = g.sort_values(["ts", "turn_idx"], kind="mergesort")
        ets = epoch(g["ts"])
        lens = g["text"].str.len().to_numpy(dtype=float)
        roles = g["role"].to_numpy()
        iat = np.diff(ets)

        def dstat(x):
            if x.size == 0:
                return 0.0, 0.0, 0.0, 0.0
            m = x.mean()
            std = np.sqrt(max((x * x).mean() - m * m, 0.0))
            return float(x.min()), float(x.max()), float(m), float(std)

        fwd = lens[roles == "user"]
        bwd = lens[roles == "assistant"]
        # per-direction IAT subsets (flow-level IAT restricted by the
        # CURRENT row's direction, first row excluded — engine convention)
        iat_fwd = iat[(roles == "user")[1:]] if len(iat) else iat
        iat_bwd = iat[(roles == "assistant")[1:]] if len(iat) else iat
        fi_min, fi_max, fi_mean, fi_std = dstat(iat)
        _, _, fwd_iat_mean, _ = dstat(iat_fwd)
        _, _, bwd_iat_mean, _ = dstat(iat_bwd)
        al_min, al_max, al_mean, al_std = dstat(lens)
        fl_min, fl_max, fl_mean, fl_std = dstat(fwd)
        bl_min, bl_max, bl_mean, bl_std = dstat(bwd)
        n = len(g)
        n_fwd = int((roles == "user").sum())
        n_bwd = int((roles == "assistant").sum())
        dur = float(ets[-1] - ets[0]) if n else 0.0
        total_len = float(lens.sum())
        fwd_len_sum = float(fwd.sum())
        bwd_len_sum = float(bwd.sum())
        avg_fwd = fwd_len_sum / max(n_fwd, 1)
        avg_bwd = bwd_len_sum / max(n_bwd, 1)
        if n >= 10 and n_fwd > 0 and n_bwd > 0:
            bpf, bpb = fwd_len_sum / n_fwd, bwd_len_sum / n_bwd
            ratio_var = abs(bpf - bpb) / max(bpf, bpb)
        else:
            ratio_var = 0.0
        rows.append(
            {
                "conv_id": conv_id,
                "session_id": sid,
                "start_time": float(ets[0]),
                "end_time": float(ets[-1]),
                "duration": dur,
                "n_turns": n,
                "total_text_len": total_len,
                "fwd_turns": n_fwd,
                "bwd_turns": n_bwd,
                "fwd_text_len": fwd_len_sum,
                "bwd_text_len": bwd_len_sum,
                "len_min": al_min,
                "len_max": al_max,
                "len_mean": al_mean,
                "len_std": al_std,
                "fwd_len_min": fl_min,
                "fwd_len_max": fl_max,
                "fwd_len_mean": fl_mean,
                "fwd_len_std": fl_std,
                "bwd_len_min": bl_min,
                "bwd_len_max": bl_max,
                "bwd_len_mean": bl_mean,
                "bwd_len_std": bl_std,
                "iat_min": fi_min,
                "iat_max": fi_max,
                "iat_mean": fi_mean,
                "iat_std": fi_std,
                "fwd_iat_sum": float(iat_fwd.sum()) if iat_fwd.size else 0.0,
                "bwd_iat_sum": float(iat_bwd.sum()) if iat_bwd.size else 0.0,
                "fwd_bwd_iat_ratio": (
                    fwd_iat_mean / bwd_iat_mean if bwd_iat_mean > 0 else 0.0
                ),
                "len_dispersion": (
                    (al_std * al_std) / al_mean if al_mean > 0 else 0.0
                ),
                "len_cov": al_std / al_mean if al_mean > 0 else 0.0,
                "turns_per_sec": n / max(dur, 0.001),
                "chars_per_sec": total_len / max(dur, 0.001),
                "fwd_chars_per_sec": fwd_len_sum / max(dur, 0.001),
                "bwd_chars_per_sec": bwd_len_sum / max(dur, 0.001),
                "fwd_turns_per_sec": n_fwd / max(dur, 0.001),
                "bwd_turns_per_sec": n_bwd / max(dur, 0.001),
                "avg_turn_len": total_len / max(n, 1),
                "avg_fwd_turn_len": avg_fwd,
                "avg_bwd_turn_len": avg_bwd,
                "down_up_ratio": (bwd_len_sum / max(fwd_len_sum, 1.0)) if n >= 10 else 0.0,
                "len_size_ratio": (avg_bwd / max(avg_fwd, 1.0)) if n >= 10 else 0.0,
                "len_ratio_variance": ratio_var,
                "len_entropy_approx": float(np.log(1.0 + al_std)) if al_std > 0 else 0.0,
            }
        )
    return pd.DataFrame(rows)


def asof_oracle(
    turns: pd.DataFrame,
    snaps: pd.DataFrame,
    value_cols: list[str],
    strict: bool = True,
) -> pd.DataFrame:
    """Row-by-row latest-preceding attach (brute force)."""
    out = []
    snaps_by_conv = {k: g for k, g in snaps.groupby("conv_id")}
    for conv_id, g in turns.groupby("conv_id", sort=True):
        sg = snaps_by_conv.get(conv_id)
        for _, row in g.iterrows():
            rec = {"conv_id": conv_id, "turn_idx": row["turn_idx"]}
            if sg is None:
                for c in value_cols:
                    rec[c] = None
            else:
                if strict:
                    vis = sg[sg["snap_ts"] < row["ts"]]
                else:
                    vis = sg[sg["snap_ts"] <= row["ts"]]
                if len(vis) == 0:
                    for c in value_cols:
                        rec[c] = None
                else:
                    # tie-break equal-ts snapshots by value struct (engine
                    # convention; Spark's struct order puts nulls first)
                    vis = vis.sort_values(
                        ["snap_ts"] + value_cols, kind="mergesort", na_position="first"
                    )
                    last = vis.iloc[-1]
                    for c in value_cols:
                        rec[c] = last[c]
            out.append(rec)
    return pd.DataFrame(out)
