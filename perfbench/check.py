"""Independent recomputations the benchmark compares the engine against.

Everything here is pandas over the events the benchmark generated and
staged; nothing reads the engine's own metadata. `lww_state` has the
semantics of `dataingestion_spark.oracle.replay` (replay in
(lsn, ts, source_file) order; INSERT and UPDATE upsert the full row,
DELETE removes the key), vectorised so the check stays cheap.
"""

from __future__ import annotations

import pandas as pd

PK = ["conv_id", "turn_idx"]
PAYLOAD = ["role", "text", "tool", "ts"]
COLS = PK + PAYLOAD


def lww_state(events: pd.DataFrame) -> pd.DataFrame:
    """Final table state after replaying `events` (op, pk, payload, lsn)."""
    # events sharing an lsn are re-deliveries of one event (same
    # payload), so lsn alone orders what (lsn, ts, source_file) orders
    last = (
        events.sort_values("lsn", kind="mergesort")
        .drop_duplicates(PK, keep="last")
    )
    live = last[last["op"] != "DELETE"]
    return canon(live)


def canon(df: pd.DataFrame, cols: list[str] = COLS) -> pd.DataFrame:
    """Rows in a comparable form: fixed columns, pk order, plain dtypes."""
    out = df[cols].copy()
    out["turn_idx"] = out["turn_idx"].astype("int64")
    if "ts" in out.columns:
        out["ts"] = (
            pd.to_datetime(out["ts"], utc=True).dt.tz_convert(None)
            .astype("datetime64[us]")
        )
    out = out.astype({c: object for c in cols if c not in ("turn_idx", "ts")})
    out = out.where(out.notna(), None)
    return out.sort_values(PK).reset_index(drop=True)


def diff_frames(label: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Empty when equal, else one line naming the first difference."""
    if len(got) != len(want):
        return [f"{label}: {len(got)} rows, expected {len(want)}"]
    if got.empty:
        return []
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False)
    except AssertionError as e:
        return [f"{label}: {str(e).splitlines()[0]}"]
    return []


def keyed(state: pd.DataFrame, keys: list[tuple]) -> pd.DataFrame:
    idx = pd.MultiIndex.from_tuples(keys, names=PK) if keys else None
    if idx is None:
        return state.iloc[0:0]
    mask = pd.MultiIndex.from_frame(state[PK]).isin(idx)
    return state[mask].reset_index(drop=True)


def prefixed(state: pd.DataFrame, convs: list[str]) -> pd.DataFrame:
    return state[state["conv_id"].isin(convs)].reset_index(drop=True)


def net_changes(before: pd.DataFrame, after: pd.DataFrame) -> pd.DataFrame:
    """The net row-level diff `LakeTable.read_changes` documents: insert
    (post-image), delete (pre-image), update (post-image) per key."""
    m = before.merge(after, on=PK, how="outer", suffixes=("_a", "_b"),
                     indicator="side")
    rows = []
    for r in m.itertuples(index=False):
        d = r._asdict()
        if d["side"] == "right_only":
            rows.append(("insert", *[d[k] for k in PK], *[d[f"{c}_b"] for c in PAYLOAD]))
        elif d["side"] == "left_only":
            rows.append(("delete", *[d[k] for k in PK], *[d[f"{c}_a"] for c in PAYLOAD]))
        elif any(not _same(d[f"{c}_a"], d[f"{c}_b"]) for c in PAYLOAD):
            rows.append(("update", *[d[k] for k in PK], *[d[f"{c}_b"] for c in PAYLOAD]))
    out = pd.DataFrame(rows, columns=["change_type", *COLS])
    return canon(out, ["change_type", *COLS])


def _same(a, b) -> bool:
    if pd.isna(a) and pd.isna(b):
        return True
    return a == b


def aggregate_view(state: pd.DataFrame) -> pd.DataFrame:
    """COUNT(*) and SUM(turn_idx) per conv_id, the view the steady
    workload maintains."""
    g = state.groupby("conv_id", as_index=False).agg(
        n_rows=("turn_idx", "size"), sum_turn_idx=("turn_idx", "sum")
    )
    g = g.astype({"n_rows": "int64", "sum_turn_idx": "int64"})
    return g.sort_values("conv_id").reset_index(drop=True)
