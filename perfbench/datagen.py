"""Seeded inputs for the CDC relay benchmark.

Everything here is numpy + pyarrow: the inputs are written as parquet
before any timed call, and the same seed always yields the same rows.
The shape mirrors the TPC-H ``orders`` table the package's tests use,
generated rather than read so the benchmark needs nothing outside its
checkout.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_DAY0 = np.datetime64("1992-01-01", "us")
DAY_US = 86_400_000_000

ORDER_COLUMNS = (
    "o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority",
)
ORDERS_DDL = (
    "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
)
AUDIT_COLUMNS = ("a_action", "a_amount")
AUDIT_DDL = "a_action string, a_amount double"
ORDER_STATUS = np.array(["F", "O", "P"], dtype=object)
ORDER_PRIORITY = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], dtype=object
)
AUDIT_ACTIONS = np.array(["login", "export", "grant", "revoke"], dtype=object)
# UPDATE columns the storm touches (o_orderkey is the key, o_orderdate
# is write-once); each update changes one or two of these.
MUTABLE = ("o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
# the shape of the update_storm feed
ZIPF_S = 1.1  # key skew of the UPDATEs
NOOP_SHARE = 0.15  # UPDATEs whose after image equals the before image
INSERT_SHARE = 0.05
DELETE_SHARE = 0.02
UNTRACKED_SHARE = 0.05  # audit_log rows, NULL key


def _days(rng: np.random.Generator, n: int) -> np.ndarray:
    return EPOCH_DAY0 + rng.integers(0, 2400, n).astype("timedelta64[D]")


def _write_split(table: pa.Table, out_dir: str, n_files: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(
            table.slice(i * step, step), os.path.join(out_dir, f"part-{i:05d}.parquet")
        )


def zipf_weights(n: int, s: float, rng: np.random.Generator) -> np.ndarray:
    """Zipf(s) probabilities over ``n`` keys, ranks shuffled so the hot
    keys are spread over the key space rather than the lowest ids."""
    w = 1.0 / np.arange(1, n + 1) ** s
    return rng.permutation(w / w.sum())


def write_order_changes(
    out_dir: str,
    n_keys: int,
    n_changes: int,
    seed: int,
) -> None:
    """The ``update_storm`` change feed with before/after images.

    ``orders`` starts with ``n_keys`` rows, written as the table the
    snapshot bootstraps the outbox from. The feed then carries, in one
    global sequence (``seq``, 1-based, the order of the changes):

    * INSERTs of fresh keys (:data:`INSERT_SHARE`), each before any update
      of its key;
    * UPDATEs whose keys are Zipf(:data:`ZIPF_S`)-skewed over base and
      inserted keys, changing one or two of :data:`MUTABLE` — except a
      :data:`NOOP_SHARE` of them, whose after image equals the before image;
    * DELETEs (:data:`DELETE_SHARE`) of distinct keys, after the key's last
      update;
    * INSERT rows of an untracked ``audit_log`` table
      (:data:`UNTRACKED_SHARE`), which carry a NULL key.

    Writes ``orders_base/`` (the starting table), ``orders/`` (the
    tracked feed, flat ``b_*``/``a_*`` image columns) and ``audit/``
    under ``out_dir``.
    """
    rng = np.random.default_rng(seed)
    n_ins = int(n_changes * INSERT_SHARE)
    n_del = int(n_changes * DELETE_SHARE)
    n_aud = int(n_changes * UNTRACKED_SHARE)
    n_upd = n_changes - n_ins - n_del - n_aud
    ins_keys = np.arange(n_keys + 1, n_keys + n_ins + 1, dtype=np.int64)
    all_keys = np.arange(1, n_keys + n_ins + 1, dtype=np.int64)

    base = pd.DataFrame(
        {
            "o_orderkey": all_keys,
            "o_custkey": rng.integers(1, 15_000, len(all_keys)).astype(np.int64),
            "o_orderstatus": rng.integers(0, 3, len(all_keys)),
            "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, len(all_keys)), 2),
            "o_orderdate": _days(rng, len(all_keys)),
            "o_orderpriority": rng.integers(0, 5, len(all_keys)),
        }
    ).set_index("o_orderkey")

    # when each key comes into existence (base keys: before the feed)
    born = pd.Series(0.0, index=all_keys)
    born.loc[ins_keys] = rng.uniform(0.0, 0.5, n_ins)

    upd_key = rng.choice(all_keys, n_upd, p=zipf_weights(len(all_keys), ZIPF_S, rng))
    b = born.loc[upd_key].to_numpy()
    upd_t = b + (1.0 - b) * rng.uniform(0.0, 1.0, n_upd) * 0.98

    # DELETEs: distinct keys, after their last update
    del_key = rng.choice(all_keys, n_del, replace=False)
    last = pd.Series(upd_t, index=upd_key).groupby(level=0).max()
    start = np.maximum(born.loc[del_key].to_numpy(), last.reindex(del_key).fillna(0).to_numpy())
    del_t = start + (1.0 - start) * rng.uniform(0.0, 1.0, n_del)

    feed = pd.DataFrame(
        {
            "key": np.concatenate([ins_keys, upd_key, del_key]),
            "t": np.concatenate([born.loc[ins_keys].to_numpy(), upd_t, del_t]),
            "op": np.array(["INSERT"] * n_ins + ["UPDATE"] * n_upd + ["DELETE"] * n_del),
        }
    )
    aud_t = rng.uniform(0.0, 1.0, n_aud)
    # one global order: the outbox id the captured events carry
    order = np.argsort(np.concatenate([feed["t"].to_numpy(), aud_t]), kind="stable")
    seq = np.empty(len(order), dtype=np.int64)
    seq[order] = np.arange(1, len(order) + 1)
    feed["seq"] = seq[: len(feed)]
    feed = feed.sort_values("seq", kind="stable").reset_index(drop=True)

    # new values: NaN = unchanged by this row
    n = len(feed)
    is_ins = (feed["op"] == "INSERT").to_numpy()
    is_upd = (feed["op"] == "UPDATE").to_numpy()
    noop = is_upd & (rng.uniform(0.0, 1.0, n) < NOOP_SHARE)
    first = rng.integers(0, len(MUTABLE), n)
    second = np.where(rng.uniform(0.0, 1.0, n) < 0.3, rng.integers(0, len(MUTABLE), n), first)
    fresh = {
        "o_custkey": rng.integers(1, 15_000, n).astype(np.float64),
        "o_orderstatus": rng.integers(0, 3, n).astype(np.float64),
        "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n), 2),
        "o_orderpriority": rng.integers(0, 5, n).astype(np.float64),
    }
    keys = feed["key"].to_numpy()
    after = {}
    for j, c in enumerate(MUTABLE):
        touched = is_upd & ~noop & ((first == j) | (second == j))
        col = np.where(touched, fresh[c], np.nan)
        col = np.where(is_ins, base[c].reindex(keys).to_numpy(dtype=np.float64), col)
        s = pd.Series(col).groupby(keys).ffill()
        after[c] = s.fillna(pd.Series(base[c].reindex(keys).to_numpy(dtype=np.float64)))
    after_df = pd.DataFrame(after)
    before_df = after_df.groupby(keys).shift(1)
    for c in MUTABLE:
        before_df[c] = before_df[c].fillna(
            pd.Series(base[c].reindex(keys).to_numpy(dtype=np.float64))
        )
    orderdate = base["o_orderdate"].reindex(keys).to_numpy()

    def image(df: pd.DataFrame, prefix: str, valid: np.ndarray) -> dict[str, pa.Array]:
        mask = ~valid
        return {
            f"{prefix}o_orderkey": pa.array(keys, mask=mask),
            f"{prefix}o_custkey": pa.array(df["o_custkey"].to_numpy().astype(np.int64), mask=mask),
            f"{prefix}o_orderstatus": pa.array(
                ORDER_STATUS[df["o_orderstatus"].to_numpy().astype(int)], mask=mask
            ),
            f"{prefix}o_totalprice": pa.array(df["o_totalprice"].to_numpy(), mask=mask),
            f"{prefix}o_orderdate": pa.array(orderdate, mask=mask),
            f"{prefix}o_orderpriority": pa.array(
                ORDER_PRIORITY[df["o_orderpriority"].to_numpy().astype(int)], mask=mask
            ),
        }

    start_rows = base.loc[: n_keys].reset_index()
    _write_split(
        pa.table(
            {
                "o_orderkey": start_rows["o_orderkey"].to_numpy(),
                "o_custkey": start_rows["o_custkey"].to_numpy(),
                "o_orderstatus": ORDER_STATUS[start_rows["o_orderstatus"].to_numpy()],
                "o_totalprice": start_rows["o_totalprice"].to_numpy(),
                "o_orderdate": start_rows["o_orderdate"].to_numpy(),
                "o_orderpriority": ORDER_PRIORITY[start_rows["o_orderpriority"].to_numpy()],
            }
        ),
        os.path.join(out_dir, "orders_base"),
        2,
    )

    is_del = ~(is_ins | is_upd)
    cols = {"seq": pa.array(feed["seq"].to_numpy()), "op": pa.array(feed["op"].to_numpy())}
    cols.update(image(before_df, "b_", ~is_ins))
    cols.update(image(after_df, "a_", ~is_del))
    _write_split(pa.table(cols), os.path.join(out_dir, "orders"), 4)

    aud = pa.table(
        {
            "seq": np.sort(seq[len(feed):]),
            "op": np.array(["INSERT"] * n_aud),
            "a_action": rng.choice(AUDIT_ACTIONS, n_aud),
            "a_amount": np.round(rng.uniform(0.0, 1000.0, n_aud), 2),
        }
    )
    _write_split(aud, os.path.join(out_dir, "audit"), 1)
