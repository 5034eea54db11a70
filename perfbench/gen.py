"""Seeded input generators for the benchmark.

Every generator is a function of its seed and its sizes alone, so the
same seed always gives the same inputs.

- ``write_star``: the ten fixture tables the operator registry reads
  (TPC-H-shaped star schema, ``events``, ``documents``, ``embeddings``),
  one single-row-group parquet file each, with the schemas and value
  domains of the repository's sf fixtures (``FIXTURES.md``). ``sf=0.1``
  gives 600k lineitem rows.
- ``OrderBatches``: the order batches the medallion workload lands, each
  a mix of new keys, updates to earlier keys, exact re-landings and late
  rows, with the measured shares of each.

Run as a script to write a star fixture:
``python3 perfbench/gen.py --out DIR --seed N --sf 0.1``.
"""

from __future__ import annotations

import argparse
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_ADJ = "blue old small new red large hot cold".split()
_NOUN = "widget gizmo bolt plate rod anvil ring gear".split()


def _us(y: int, m: int, d: int) -> int:
    return int(dt.datetime(y, m, d, tzinfo=dt.timezone.utc).timestamp()) * 10**6


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _days(rng, n: int, lo: tuple, hi: tuple) -> pa.Array:
    a, b = _us(*lo) // 86_400_000_000, _us(*hi) // 86_400_000_000
    return _ts(rng.integers(a, b + 1, n) * 86_400_000_000)


def _pick(rng, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _documents(rng, n: int) -> pa.Table:
    """Word-soup documents; 5% are a copy of an earlier document with
    one word appended (near-duplicates) and a few are exact copies."""
    lens = rng.integers(10, 70, n)
    texts = [" ".join(np.asarray(_WORDS)[rng.integers(0, len(_WORDS), k)]) for k in lens]
    for i in range(1, n):
        u = rng.random()
        if u < 0.05:
            texts[i] = texts[rng.integers(0, i)] + " dup"
        elif u < 0.052:
            texts[i] = texts[rng.integers(0, i)]
    langs = ["en", "zh", "de", "es", "fr"]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype="int64")),
            "text": pa.array(texts),
            "lang": _pick(rng, langs, n, p=[0.41, 0.15, 0.14, 0.15, 0.15]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    v = rng.standard_normal((n, 64)).astype("float32")
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), 64).cast(
        pa.list_(pa.float32())
    )
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype="int64")),
            "embedding": emb,
            "label": pa.array(rng.integers(0, 10, n).astype("int32")),
        }
    )


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten fixture tables at scale factor ``sf``."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = (max(10, int(k * sf)) for k in (150_000, 10_000, 200_000))
    n_ord, n_li = max(100, int(1_500_000 * sf)), max(400, int(6_000_000 * sf))
    n_ev, n_doc, n_emb = (max(50, int(k * sf)) for k in (1_000_000, 50_000, 20_000))
    i32 = lambda a: pa.array(np.asarray(a).astype("int32"))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a).astype("int64"))  # noqa: E731
    return {
        "region": pa.table(
            {
                "r_regionkey": i32(np.arange(5)),
                "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": i32(np.arange(25)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": i32(np.arange(25) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": i64(np.arange(n_cust)),
                "c_name": _names("Customer", n_cust),
                "c_nationkey": i32(rng.integers(0, 25, n_cust)),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": _pick(
                    rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
                ),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": i64(np.arange(n_supp)),
                "s_name": _names("Supplier", n_supp),
                "s_nationkey": i32(rng.integers(0, 25, n_supp)),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": i64(np.arange(n_part)),
                "p_name": pa.array(
                    [
                        f"{_ADJ[a]} {_NOUN[b]}"
                        for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                    ]
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
                "p_type": _pick(
                    rng, ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], n_part
                ),
                "p_size": i32(rng.integers(1, 51, n_part)),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": i64(np.arange(n_ord)),
                "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
                "o_totalprice": _money(rng, 1000, 500_000, n_ord),
                "o_orderdate": _days(rng, n_ord, (1995, 1, 1), (2001, 8, 1)),
                "o_orderpriority": _pick(
                    rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
                ),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": i64(rng.integers(0, n_ord, n_li)),
                "l_partkey": i64(rng.integers(0, n_part, n_li)),
                "l_suppkey": i64(rng.integers(0, n_supp, n_li)),
                "l_linenumber": i32(rng.integers(1, 8, n_li)),
                "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
                "l_extendedprice": _money(rng, 900, 105_000, n_li),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
                "l_linestatus": _pick(rng, ["F", "O"], n_li),
                "l_shipdate": _days(rng, n_li, (1995, 1, 2), (2001, 11, 4)),
            }
        ),
        "events": pa.table(
            {
                "event_id": i64(np.arange(n_ev)),
                "ts": _ts(np.sort(rng.integers(_us(2024, 1, 1), _us(2024, 1, 31), n_ev))),
                "user_id": i64(rng.integers(0, max(15, int(15_000 * sf)), n_ev)),
                "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
                "value": np.round(rng.exponential(50.0, n_ev), 2),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
            }
        ),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }


def write_star(out_dir: str, seed: int, sf: float) -> int:
    """Write the star fixture to ``out_dir``; returns the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in star_tables(seed, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=max(1, table.num_rows))
        total += os.path.getsize(path)
    return total


ORDER_SCHEMA = pa.schema(
    [
        ("order_key", pa.int64()),
        ("cust_key", pa.int64()),
        ("status", pa.string()),
        ("amount_cents", pa.int64()),
        ("updated_at", pa.timestamp("us")),
        ("_ingest_seq", pa.int64()),
    ]
)


class OrderBatches:
    """Seeded order batches for the medallion workload.

    Batch 0 holds only new keys (the initial load). Every later batch of
    ``rows`` rows holds new keys plus set shares of updates to earlier
    keys (strictly newer ``updated_at``), exact re-landings of earlier
    rows and late rows (older than the key's latest version, so they must
    not win). ``_ingest_seq`` is the batch number. ``latest_ts`` tracks
    each key's newest ``updated_at`` for the read checks.

    The shares are a chosen mix, not taken from a published CDC or upsert
    workload: mostly new keys, with every kind of row the MERGE must
    handle present in each batch. ``perfbench/README.md`` gives how the
    medallion figures move under other mixes.
    """

    SHARES = {"new": 0.55, "update": 0.25, "duplicate": 0.12, "late": 0.08}
    _STATUS = np.asarray(["F", "O", "P", "R"], dtype=object)

    def __init__(self, seed: int, rows: int, n_customers: int):
        self.rng = np.random.default_rng([seed, 2])
        self.rows = rows
        self.n_customers = n_customers
        self.latest_ts = np.zeros(0, dtype="int64")
        self._landed: list[pa.Table] = []
        self._pairs: set[tuple[int, int]] = set()
        self.seq = 0

    @property
    def n_keys(self) -> int:
        return len(self.latest_ts)

    def _fresh(self, keys: np.ndarray, ts: np.ndarray) -> dict:
        n = len(keys)
        return {
            "order_key": keys,
            "cust_key": self.rng.integers(0, self.n_customers, n),
            "status": self._STATUS[self.rng.integers(0, 4, n)],
            "amount_cents": self.rng.integers(100, 10_000_000, n),
            "updated_at": ts,
        }

    def next(self) -> tuple[pa.Table, dict]:
        """The next batch and its measured input properties."""
        rng, b = self.rng, self.seq
        day = _us(2024, 1, 1) + b * 86_400_000_000
        counts = {"new": self.rows}
        if b:
            counts = {k: int(self.rows * s) for k, s in self.SHARES.items()}
            counts["new"] = self.rows - sum(v for k, v in counts.items() if k != "new")
        n_new = counts["new"]
        new_keys = np.arange(self.n_keys, self.n_keys + n_new)
        parts = [self._fresh(new_keys, day + rng.integers(0, 86_400_000_000, n_new))]
        old_latest = self.latest_ts
        if b:
            upd = rng.choice(self.n_keys, counts["update"], replace=False)
            parts.append(self._fresh(upd, old_latest[upd] + rng.integers(1, 86_400_000_000, len(upd))))
            late = rng.choice(self.n_keys, counts["late"], replace=False)
            parts.append(self._fresh(late, old_latest[late] - rng.integers(1, 86_400_000_000, len(late))))
        cols = {k: np.concatenate([p[k] for p in parts]) for k in parts[0]}
        batch = pa.table(
            {
                **{k: cols[k] for k in ("order_key", "cust_key", "status", "amount_cents")},
                "updated_at": _ts(cols["updated_at"]),
                "_ingest_seq": np.full(len(cols["order_key"]), b, dtype="int64"),
            },
            schema=ORDER_SCHEMA,
        )
        if b:
            landed = pa.concat_tables(self._landed)
            dup = landed.take(rng.choice(landed.num_rows, counts["duplicate"])).set_column(
                5, "_ingest_seq", pa.array(np.full(counts["duplicate"], b, dtype="int64"))
            )
            batch = pa.concat_tables([batch, dup])
        batch = batch.take(rng.permutation(batch.num_rows))
        self.latest_ts = np.concatenate([old_latest, np.zeros(n_new, dtype="int64")])
        np.maximum.at(self.latest_ts, cols["order_key"], cols["updated_at"])
        self._landed.append(batch)
        self.seq += 1
        return batch, self._measure(batch, old_latest)

    def _measure(self, batch: pa.Table, prior_latest: np.ndarray) -> dict:
        """Shares of the batch's rows that are new keys, updates (newer
        than the key's latest landed version), exact re-landings of an
        earlier row, or late (older than the latest, never landed)."""
        keys = batch.column("order_key").to_numpy()
        ts = batch.column("updated_at").cast(pa.int64()).to_numpy()
        pairs = list(zip(keys.tolist(), ts.tolist()))
        dup = np.fromiter((p in self._pairs for p in pairs), bool, len(pairs))
        self._pairs.update(pairs)
        seen = keys < len(prior_latest)
        prior = np.zeros(len(keys), dtype="int64")
        prior[seen] = prior_latest[keys[seen]]
        n = max(len(keys), 1)
        return {
            "rows": len(keys),
            "new_share": float((~seen).sum() / n),
            "update_share": float((seen & ~dup & (ts > prior)).sum() / n),
            "duplicate_share": float(dup.sum() / n),
            "late_share": float((seen & ~dup & (ts < prior)).sum() / n),
        }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, required=True)
    a = ap.parse_args()
    print(write_star(a.out, a.seed, a.sf))


if __name__ == "__main__":
    main()
