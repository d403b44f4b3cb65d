"""N-stage ordered funnel: the 3-stage view→click→purchase chain
(q_relational.event_funnel_counts / event_funnel_windowed_counts)
generalized to a fold over ANY stage list, with an optional
max-conversion-window band.

Same plan shape at every length — that is the point of the fold:
stage k filters events to one type AT THE SCAN (pushed predicate),
reduces to a user-sized min, and joins the previous stage's frame on
the SAME uniform user key, so frames only shrink down the funnel and
every exchange hashes one key. No windows, no per-user sorts;
timestamps compare as integer epoch-µs (the qreg rule).

Consumer-side analytics over the reference's CDC feed — the outbox
delivers the events (eventqueue/event_queue.go:60-75); the reference
itself ships no analytics, this is the surface its consumers build.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F


def funnel_stage_frames(
    ev: DataFrame,
    stages: list[str] | tuple[str, ...],
    window_us: int | None = None,
    user_col: str | list[str] = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts_us",
) -> list[DataFrame]:
    """One keyed frame per funnel stage: frame k holds
    (key…, t{k+1}) — each key's earliest stage-k event strictly after
    (and, when ``window_us`` is set, within the band of) its
    stage-(k−1) conversion instant. ``user_col`` may be a LIST of
    columns for composite funnel units (e.g. (user_id, session_id)
    for the in-session funnel) — the fold is identical, every
    exchange just hashes the composite key."""
    if len(stages) < 1:
        raise ValueError("funnel needs at least one stage")
    keys = [user_col] if isinstance(user_col, str) else list(user_col)
    frames: list[DataFrame] = []
    prev: DataFrame | None = None
    for i, etype in enumerate(stages):
        typed = ev.filter(F.col(type_col) == etype)
        out_t = f"t{i + 1}"
        if prev is None:
            f = typed.groupBy(*keys).agg(F.min(ts_col).alias(out_t))
        else:
            prev_t = f"t{i}"
            cond = F.col(ts_col) > F.col(prev_t)
            if window_us is not None:
                cond &= F.col(ts_col) <= F.col(prev_t) + F.lit(int(window_us))
            f = (
                typed.join(prev, keys)
                .filter(cond)
                .groupBy(*keys)
                .agg(F.min(ts_col).alias(out_t))
            )
        frames.append(f)
        prev = f
    return frames


def funnel_counts(
    frames: list[DataFrame],
    stages: list[str] | tuple[str, ...],
    count_alias: str = "n_users",
) -> DataFrame:
    """(step, event_type, n_users) — one row per stage, the classic
    funnel report. Each count is a 1-row aggregate of an already
    key-sized frame. ``count_alias`` names the count for non-user
    funnel units (n_sessions for the in-session funnel)."""
    rows = [
        frame.agg(
            F.lit(i + 1).alias("step"),
            F.lit(etype).alias("event_type"),
            F.count(F.lit(1)).alias(count_alias),
        )
        for i, (etype, frame) in enumerate(zip(stages, frames))
    ]
    return reduce(lambda a, b: a.unionByName(b), rows)


def ordered_funnel(
    ev: DataFrame,
    stages: list[str] | tuple[str, ...],
    window_us: int | None = None,
    user_col: str | list[str] = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts_us",
    count_alias: str = "n_users",
) -> DataFrame:
    """The full funnel report for ``stages`` over a
    (key…, event_type, ts_us) frame."""
    return funnel_counts(
        funnel_stage_frames(ev, stages, window_us, user_col, type_col, ts_col),
        stages,
        count_alias,
    )


def funnel_oracle_sql(
    stages: list[str] | tuple[str, ...],
    window_us: int | None = None,
    source: str = "events",
    keys: tuple[str, ...] = ("user_id",),
    ts_expr: str = "epoch_us(ts)",
    count_alias: str = "n_users",
    with_prefix: str | None = None,
) -> str:
    """The DuckDB spelling of the same fold — generated from the SAME
    stage list so query and oracle cannot drift. ``source``/``keys``/
    ``ts_expr`` parameterize the funnel unit (the in-session funnel
    folds over a sessionized CTE on (user_id, session_id));
    ``with_prefix`` chains the generated CTEs onto an existing WITH
    block instead of opening one."""
    key_list = ", ".join(keys)
    ctes = []
    for i, etype in enumerate(stages):
        if i == 0:
            ctes.append(
                f"s1 AS (SELECT {key_list}, min({ts_expr}) AS t1 "
                f"FROM {source} WHERE event_type = '{etype}' "
                f"GROUP BY {key_list})"
            )
        else:
            band = (
                f" AND {ts_expr} <= t{i} + {int(window_us)}"
                if window_us is not None
                else ""
            )
            on = " AND ".join(f"e.{k} = s{i}.{k}" for k in keys)
            sel = ", ".join(f"e.{k}" for k in keys)
            ctes.append(
                f"s{i + 1} AS (SELECT {sel}, min({ts_expr}) AS "
                f"t{i + 1} FROM {source} e JOIN s{i} ON {on} "
                f"WHERE event_type = '{etype}' AND "
                f"{ts_expr} > t{i}{band} GROUP BY {sel})"
            )
    selects = " UNION ALL ".join(
        f"SELECT {i + 1} AS step, '{etype}' AS event_type, "
        f"count(*) AS {count_alias} FROM s{i + 1}"
        for i, etype in enumerate(stages)
    )
    body = ", ".join(ctes)
    head = f"{with_prefix}, {body}" if with_prefix else f"WITH {body}"
    return f"{head} SELECT * FROM ({selects})"
