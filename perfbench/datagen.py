"""Seeded input generators (numpy + pyarrow, outside the program's JVM).

Two input families:

- ``NightlyInputs``: the warehouse the 12 reference jobs run over -- one
  ODS partition per table per night (11 tables) plus the three offline
  delta snapshots that archetype C merges.  Every night after night 0
  has the same row counts, so nights are repeats of one another.  The
  class also derives, from its own parameters and generated keys, the
  invariants the outputs must satisfy (``expected_*``); verification
  never asks the program what the answer is.
- ``write_registry_tables``: TPC-H-like tables plus ``events``,
  ``documents`` and ``embeddings`` in the schemas and sf0.1 row counts of
  the repository's testdata (TESTDATA.md), for the registry queries and
  their DuckDB oracles.

The same seed gives byte-identical files; a different seed changes them.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timedelta, timezone
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_DAY = datetime(2023, 1, 1, tzinfo=timezone.utc)
DELTA_ROWKEY_DAY = "20221001"  # pipelines.JOBS' archetype-C rowkey regex
STALE_ROWKEY_DAY = "20220930"
DELTA_ONLY_BASE = 900_000_000  # delta-only keys: never an ODS key
STALE_BASE = 950_000_000  # stale-rowkey keys: filtered out by the regex

B_KEYS = {"customer_inf": "customer_id", "product_info": "product_core",
          "coupon_info": "coupon_id"}
C_KEYS = {"order_master": "order_id", "order_detail": "order_detail_id",
          "product_browse": "log_id"}
C_DELTAS = {"order_master": "order_master_offline",
            "order_detail": "order_detail_offline",
            "product_browse": "product_browse_offline"}

_I32 = pa.int32()
_F64 = pa.float64()
_STR = pa.string()
_TS = pa.timestamp("us", tz="UTC")


def etl_date(night: int) -> str:
    return (BASE_DAY + timedelta(days=night)).strftime("%Y%m%d")


def _ts_strings(us: np.ndarray) -> pa.Array:
    """Time-like data columns are 'yyyy-MM-dd HH:mm:ss' strings in the
    reference's schemas."""
    return pa.array(us // 1_000_000, pa.timestamp("s")).cast(_STR)


def _fmt(prefix: str, ints: np.ndarray, suffix: str = "") -> pa.Array:
    """``prefix + str(i) + suffix`` per element, vectorised."""
    return pc.binary_join_element_wise(
        prefix, pa.array(ints).cast(pa.string()), suffix, ""
    )


def _pad(prefix: str, ints: np.ndarray, width: int) -> pa.Array:
    """``prefix + zero-padded i``."""
    digits = pc.utf8_lpad(pa.array(ints).cast(pa.string()), width, "0")
    return pc.binary_join_element_wise(prefix, digits, "")


@dataclass(frozen=True)
class NightlySize:
    """Row counts of one night.  ``rows`` is per archetype-A/C ODS table
    (``customer_addr`` and ``customer_level_inf`` are dimensions with
    their own sizes); B tables update ``*_updates`` keys per night after
    loading every key on night 0.

    The defaults are a 200k-rows-per-table night scaled by 1/20 so that a
    run fits the benchmark's time budget; at this size most of a night is
    fixed per-job cost.  The measurements behind the choice are in
    ``perfbench/README.md`` ("Input size")."""

    rows: int = 10_000
    addrs: int = 5_000
    levels: int = 5
    customers: int = 10_000
    customer_updates: int = 2_000
    products: int = 5_000
    product_updates: int = 1_000
    coupons: int = 1_000
    coupon_updates: int = 200
    delta_only: int = 500
    delta_overlap: int = 500
    delta_stale: int = 250


class NightlyInputs:
    """Seeded ODS partitions for ``nights`` consecutive nights plus the
    three delta snapshots.  ``write`` lands them as parquet under a
    staging root: ``<root>/night=<n>/<table>/part-0.parquet`` and
    ``<root>/delta/<delta_table>/part-0.parquet``."""

    def __init__(self, seed: int, nights: int, size: NightlySize = NightlySize()):
        self.seed = seed
        self.nights = nights
        self.size = size
        rng = np.random.default_rng([seed, 0x5EED])
        s = size
        # per-night keys that matter to the invariants
        self.addr_customers: list[np.ndarray] = []
        self.b_updates: dict[str, list[np.ndarray]] = {t: [] for t in B_KEYS}
        self._night_seeds = rng.integers(0, 2**63 - 1, size=nights)
        for n in range(nights):
            r = np.random.default_rng(int(self._night_seeds[n]))
            self.addr_customers.append(r.integers(0, s.customers, size=s.addrs))
            for t, (k, u) in {
                "customer_inf": (s.customers, s.customer_updates),
                "product_info": (s.products, s.product_updates),
                "coupon_info": (s.coupons, s.coupon_updates),
            }.items():
                keys = np.arange(k) if n == 0 else np.sort(
                    r.choice(k, size=u, replace=False)
                )
                self.b_updates[t].append(keys)
        # archetype-C delta keys: delta-only, overlapping some night's base,
        # and stale (rowkey from another day)
        self.delta_keys: dict[str, dict[str, np.ndarray]] = {}
        for i, t in enumerate(C_KEYS):
            r = np.random.default_rng([seed, 0xDE17A, i])
            overlap = r.choice(nights * s.rows, size=s.delta_overlap, replace=False)
            self.delta_keys[t] = {
                "only": DELTA_ONLY_BASE + i * 1_000_000 + np.arange(s.delta_only),
                "overlap": np.sort(overlap + 1),  # base keys start at 1
                "stale": STALE_BASE + i * 1_000_000 + np.arange(s.delta_stale),
            }

    # -- generation -------------------------------------------------------

    def _c_keys(self, night: int) -> np.ndarray:
        """Base keys of archetype-C tables on ``night``: disjoint ranges."""
        return 1 + night * self.size.rows + np.arange(self.size.rows)

    def night_tables(self, night: int) -> dict[str, pa.Table]:
        s = self.size
        r = np.random.default_rng(int(self._night_seeds[night]) ^ 0xA5A5)
        day_us = int((BASE_DAY + timedelta(days=night)).timestamp() * 1_000_000)

        def times(n: int) -> np.ndarray:
            # strictly inside the night: newer nights always sort later
            return day_us + r.integers(0, 86_400_000_000 - 1, size=n)

        n = s.rows
        cust = lambda m: r.integers(0, s.customers, size=m).astype(np.int32)  # noqa: E731
        out: dict[str, pa.Table] = {}
        ids = (1 + night * n + np.arange(n)).astype(np.int32)

        addr_ids = (1 + night * s.addrs + np.arange(s.addrs)).astype(np.int32)
        out["customer_addr"] = pa.table({
            "addr_id": pa.array(addr_ids, _I32),
            "customer_id": pa.array(self.addr_customers[night].astype(np.int32), _I32),
            "province": _fmt("prov", r.integers(0, 34, s.addrs), ""),
            "city": _fmt("city", r.integers(0, 300, s.addrs), ""),
            "address": _fmt("", r.integers(1, 9999, s.addrs), " main st"),
            "modified_time": pa.array(times(s.addrs), _TS),
        })
        out["customer_login_log"] = pa.table({
            "login_id": pa.array(ids, _I32),
            "customer_id": pa.array(cust(n), _I32),
            "login_time": pa.array(times(n), _TS),
            "login_ip": pc.binary_join_element_wise(
                "10", *(pa.array(r.integers(0, 255, n)).cast(_STR) for _ in range(3)), "."
            ),
        })
        out["customer_level_inf"] = pa.table({
            "customer_level": pa.array(np.arange(1, s.levels + 1, dtype=np.int32), _I32),
            "level_name": _fmt("level", range(1, s.levels + 1), ""),
            "modified_time": pa.array(times(s.levels), _TS),
        })
        out["order_cart"] = pa.table({
            "cart_id": pa.array(ids, _I32),
            "customer_id": pa.array(cust(n), _I32),
            "product_id": pa.array(r.integers(0, s.products, n).astype(np.int32), _I32),
            "product_amount": pa.array(r.integers(1, 10, n).astype(np.int32), _I32),
            "modified_time": pa.array(times(n), _TS),
        })
        out["coupon_use"] = pa.table({
            "coupon_use_id": pa.array(ids, _I32),
            "coupon_id": pa.array(r.integers(0, s.coupons, n).astype(np.int32), _I32),
            "customer_id": pa.array(cust(n), _I32),
            "order_id": pa.array(r.integers(1, 10_000_000, n).astype(np.int32), _I32),
            "coupon_status": pa.array(
                np.array(["unused", "used", "expired"])[r.integers(0, 3, n)], _STR
            ),
            "used_time": pa.array(times(n), _TS),
        })

        k = self.b_updates["customer_inf"][night]
        out["customer_inf"] = pa.table({
            "customer_id": pa.array(k.astype(np.int32), _I32),
            "customer_name": _fmt("name", k, ""),
            "customer_level": pa.array(
                r.integers(1, s.levels + 1, len(k)).astype(np.int32), _I32
            ),
            "extend_info": pa.array([f"info{night}"] * len(k), _STR),
            "modified_time": pa.array(times(len(k)), _TS),
        })
        k = self.b_updates["product_info"][night]
        out["product_info"] = pa.table({
            "product_id": pa.array(k.astype(np.int32), _I32),
            "product_name": _fmt("product", k, ""),
            "product_core": _pad("PC", k, 7),
            "extend_info": pa.array([f"info{night}"] * len(k), _STR),
            "modified_time": pa.array(times(len(k)), _TS),
        })
        k = self.b_updates["coupon_info"][night]
        out["coupon_info"] = pa.table({
            "coupon_id": pa.array(k.astype(np.int32), _I32),
            "coupon_name": _fmt("coupon", k, ""),
            "coupon_type": pa.array(r.integers(0, 4, len(k)).astype(np.int32), _I32),
            "condition_amount": pa.array(np.round(r.uniform(0, 500, len(k)), 2), _F64),
            "condition_num": pa.array(r.integers(0, 10, len(k)).astype(np.int32), _I32),
            "activity_id": pa.array(r.integers(0, 100, len(k)).astype(np.int32), _I32),
            "benefit_amount": pa.array(np.round(r.uniform(0, 50, len(k)), 2), _F64),
            "benefit_discount": pa.array(np.round(r.uniform(0, 1, len(k)), 2), _F64),
            "modified_time": pa.array(times(len(k)), _TS),
        })

        for t in C_KEYS:
            out[t] = self._c_table(t, self._c_keys(night), r, times)
        return out

    def _c_table(self, table: str, keys: np.ndarray, r: np.random.Generator,
                 times) -> pa.Table:
        m = len(keys)
        k32 = keys.astype(np.int32)
        sn = _pad("SN", keys, 10)
        t1 = times(m)
        if table == "order_master":
            money = np.round(r.uniform(1, 5000, m), 2)
            return pa.table({
                "order_id": pa.array(k32, _I32),
                "order_sn": pa.array(sn, _STR),
                "customer_id": pa.array(r.integers(0, self.size.customers, m).astype(np.int32), _I32),
                "shipping_user": _fmt("user", r.integers(0, 99999, m), ""),
                "province": _fmt("prov", r.integers(0, 34, m), ""),
                "city": _fmt("city", r.integers(0, 300, m), ""),
                "address": _fmt("", r.integers(1, 9999, m), " main st"),
                "order_source": pa.array(r.integers(1, 3, m).astype(np.int32), _I32),
                "payment_method": pa.array(r.integers(1, 5, m).astype(np.int32), _I32),
                "order_money": pa.array(money, _F64),
                "district_money": pa.array(np.round(money * 0.05, 2), _F64),
                "shipping_money": pa.array(np.round(r.uniform(0, 20, m), 2), _F64),
                "payment_money": pa.array(np.round(money * 0.95, 2), _F64),
                "shipping_comp_name": _fmt("ship", r.integers(0, 8, m), ""),
                "shipping_sn": _pad("S", keys, 10),
                "create_time": _ts_strings(t1),
                "shipping_time": _ts_strings(t1 + 3_600_000_000),
                "pay_time": _ts_strings(t1 + 60_000_000),
                "receive_time": _ts_strings(t1 + 86_400_000_000),
                "order_status": pa.array(
                    np.array(["paid", "shipped", "received"])[r.integers(0, 3, m)], _STR
                ),
                "order_point": pa.array(r.integers(0, 500, m).astype(np.int32), _I32),
                "invoice_title": _fmt("inv", r.integers(0, 999, m), ""),
                "modified_time": _ts_strings(t1),
            })
        if table == "order_detail":
            return pa.table({
                "order_detail_id": pa.array(k32, _I32),
                "order_sn": pa.array(sn, _STR),
                "product_id": pa.array(r.integers(0, self.size.products, m).astype(np.int32), _I32),
                "product_name": _fmt("product", r.integers(0, self.size.products, m), ""),
                "product_cnt": pa.array(r.integers(1, 10, m).astype(np.int32), _I32),
                "product_price": pa.array(np.round(r.uniform(1, 999, m), 2), _F64),
                "average_cost": pa.array(np.round(r.uniform(1, 500, m), 2), _F64),
                "weight": pa.array(np.round(r.uniform(0.1, 30, m), 2), _F64),
                "fee_money": pa.array(np.round(r.uniform(0, 20, m), 2), _F64),
                "w_id": pa.array(r.integers(1, 20, m).astype(np.int32), _I32),
                "create_time": _ts_strings(t1),
                "modified_time": _ts_strings(t1 + 1_000_000),
            })
        return pa.table({
            "log_id": pa.array(k32, _I32),
            "product_id": pa.array(r.integers(0, self.size.products, m).astype(np.int32), _I32),
            "customer_id": pa.array(r.integers(0, self.size.customers, m).astype(np.int32), _I32),
            "gen_order": pa.array(r.integers(0, 2, m).astype(np.int32), _I32),
            "order_sn": pa.array(sn, _STR),
            "modified_time": _ts_strings(t1),
        })

    def delta_tables(self) -> dict[str, pa.Table]:
        out = {}
        for i, t in enumerate(C_KEYS):
            r = np.random.default_rng([self.seed, 0xDE17B, i])
            dk = self.delta_keys[t]
            keys = np.concatenate([dk["only"], dk["overlap"], dk["stale"]])
            rowkeys = [
                f"{v:010d}_{DELTA_ROWKEY_DAY}" for v in dk["only"]
            ] + [
                f"{v:010d}_{DELTA_ROWKEY_DAY}" for v in dk["overlap"]
            ] + [f"{v:010d}_{STALE_ROWKEY_DAY}" for v in dk["stale"]]
            day_us = int(BASE_DAY.timestamp() * 1_000_000)
            body = self._c_table(
                t, keys, r, lambda m: day_us + r.integers(0, 86_400_000_000, m)
            )
            out[C_DELTAS[t]] = body.add_column(0, "row_key", pa.array(rowkeys, _STR))
        return out

    def write(self, root: Path) -> dict[str, int]:
        """Write every night's partitions and the delta snapshots.
        Returns ``{"rows": ..., "bytes": ...}`` per night (``night=<n>``)
        and for ``delta``."""
        stats = {}
        for n in range(self.nights):
            rows = size = 0
            for t, tab in self.night_tables(n).items():
                d = root / f"night={n}" / t
                d.mkdir(parents=True, exist_ok=True)
                pq.write_table(tab, d / "part-0.parquet")
                rows += tab.num_rows
                size += (d / "part-0.parquet").stat().st_size
            stats[f"night={n}"] = {"rows": rows, "bytes": size}
        rows = size = 0
        for t, tab in self.delta_tables().items():
            d = root / "delta" / t
            d.mkdir(parents=True, exist_ok=True)
            pq.write_table(tab, d / "part-0.parquet")
            rows += tab.num_rows
            size += (d / "part-0.parquet").stat().st_size
        stats["delta"] = {"rows": rows, "bytes": size}
        return stats

    # -- invariants derived from the generator ------------------------------

    def expected_rows(self, table: str, night: int) -> int:
        """Rows the DWD partition of ``night`` must hold."""
        s = self.size
        if table in C_KEYS:
            dk = self.delta_keys[table]
            base = self._c_keys(night)
            matched = np.concatenate([dk["only"], dk["overlap"]])
            return s.rows + int((~np.isin(matched, base)).sum())
        if table in B_KEYS:
            return {"customer_inf": s.customers, "product_info": s.products,
                    "coupon_info": s.coupons}[table]
        return {"customer_addr": s.addrs, "customer_level_inf": s.levels}.get(
            table, s.rows
        )

    def expected_newest(self, table: str, upto: int) -> dict:
        """key -> night of the newest ODS version of that key, for the
        archetype-B table after nights ``0..upto``."""
        last = {}
        for n in range(upto + 1):
            for k in self.b_updates[table][n]:
                last[int(k)] = n
        return last

    def expected_star_rows(self, window: list[int]) -> int:
        """Rows of the DWS star after the night that closes ``window``:
        dim_customer_inf (every key, one partition per window night) left
        join dim_customer_addr (addresses of the window nights) on
        customer_id, left join dim_customer_level_inf (every level, one
        row per window night) on customer_level."""
        s = self.size
        counts = np.bincount(
            np.concatenate([self.addr_customers[n] for n in window]),
            minlength=s.customers,
        )
        per_anchor = int(np.maximum(counts, 1).sum())
        return len(window) * per_anchor * len(window)


# ---------------------------------------------------------------------------
# Registry inputs: the testdata schemas (TESTDATA.md) at sf0.1 row counts
# ---------------------------------------------------------------------------

_VOCAB = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split()
)
_LANGS = np.array(["en", "zh", "es", "fr", "de"])
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_ADJ = np.array("large hot blue green small red cold dark".split())
_NOUN = np.array("ring bolt gear nut pipe valve screw spring".split())
_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
_PRIOS = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_EVENTS = np.array(["signup", "purchase", "view", "click", "error"])
_US = pa.timestamp("us")


def _days_us(rng, n, start: datetime, days: int) -> np.ndarray:
    base = int(start.replace(tzinfo=timezone.utc).timestamp()) * 1_000_000
    return base + rng.integers(0, days, n) * 86_400_000_000


def registry_tables(seed: int) -> dict[str, pa.Table]:
    """The ten registry input tables (sf0.1 row counts), seeded."""
    rng = np.random.default_rng([seed, 0x7E57])
    n_cust, n_supp, n_part, n_ord, n_line = 15_000, 1_000, 20_000, 150_000, 600_000
    n_ev, n_doc, n_emb = 100_000, 5_000, 2_000
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(_SEGMENTS[rng.integers(0, 5, n_cust)]),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(np.char.add(
            np.char.add(_ADJ[rng.integers(0, 8, n_part)], " "),
            _NOUN[rng.integers(0, 8, n_part)],
        )),
        "p_brand": pa.array([f"Brand#{v}" for v in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(_TYPES[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 2)),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n_ord), 2)),
        "o_orderdate": pa.array(_days_us(rng, n_ord, datetime(1995, 1, 1), 2405), _US),
        "o_orderpriority": pa.array(_PRIOS[rng.integers(0, 5, n_ord)]),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
        "l_shipdate": pa.array(_days_us(rng, n_line, datetime(1995, 1, 2), 2499), _US),
    })
    ev_ts = np.sort(
        _days_us(rng, n_ev, datetime(2024, 1, 1), 1)
        + rng.integers(0, 30 * 86_400_000_000, n_ev)
    )
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ev_ts, _US),
        "user_id": pa.array(rng.integers(0, 1500, n_ev)),
        "event_type": pa.array(_EVENTS[rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, n_ev)]),
    })
    # documents: random-vocabulary texts; 5% near-duplicates (an earlier
    # text plus one token) and a few exact duplicates, as in the testdata
    lengths = rng.integers(10, 101, n_doc)
    texts = [" ".join(_VOCAB[rng.integers(0, len(_VOCAB), k)]) for k in lengths]
    near = rng.choice(np.arange(100, n_doc), size=n_doc // 20, replace=False)
    for j in np.sort(near):
        texts[j] = texts[int(rng.integers(0, j))] + " dup"
    for j in rng.choice(np.arange(100, n_doc), size=8, replace=False):
        texts[j] = texts[int(rng.integers(0, j))]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(_LANGS[rng.choice(5, n_doc, p=_LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64)),
    })
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n_emb * 64 + 1, 64, dtype=np.int32)),
            pa.array(emb.ravel(), pa.float32()),
        ),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32)),
    })
    return t


def write_registry_tables(seed: int, dst: Path) -> dict[str, int]:
    """Write the registry tables as ``<dst>/<table>.parquet``; returns
    total rows and bytes."""
    dst.mkdir(parents=True, exist_ok=True)
    rows = size = 0
    for name, tab in registry_tables(seed).items():
        p = dst / f"{name}.parquet"
        pq.write_table(tab, p)
        rows += tab.num_rows
        size += p.stat().st_size
    return {"rows": rows, "bytes": size}
