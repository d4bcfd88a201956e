"""``ingest_refresh``: bulk statements on an embedded engine, with two
materialized views kept fresh.

``orders`` and ``items`` (FK to ``orders``) are engine-owned tables loaded
from the generated fixture with ``attach_parquet`` + ``INSERT ... SELECT``.
Each cycle keeps both tables at a steady size; its 20 operations, in order:

1. INSERT the next batch of orders, then their items (PK and FK checks);
2. DELETE the oldest batch's items, then its orders (delete-reference check);
3. UPDATE ~1% of orders and ~10% of items;
4. REFRESH ``mv_cust`` (grouped by customer: a batch touches a fraction of
   the groups) and ``mv_flag`` (``orders`` join ``items`` grouped by status
   and return flag: every group recomputes);
5. read both views in full, and 10 customers' rows of ``mv_cust`` (reads are
   then the majority, so the median operation is a read, not the boundary
   between reads and writes).

Checks: every statement's row count against the benchmark's model; every
refresh must take an incremental path; after the window, each view as read
in each cycle must equal its defining query run ``AS OF`` that cycle's
version, and the tables' counts and sums must equal the model's.
"""

from __future__ import annotations

import math
import os
import re
import time

import numpy as np
import pyarrow.parquet as pq

from perfbench import fixtures

LOADED = 30_000  # orders in the tables at any time
BATCH = 1_000  # orders inserted and deleted per cycle
MAX_CYCLES = 20  # fixture rows for this many cycles are generated
# ``orders`` is loaded in this many INSERTs, each a delta: with a cycle's
# insert, delete and update the chain reaches 8 and the catalog compacts
# during the first cycle's UPDATE of orders
LOAD_INSERTS = 5
ORDER_BYTES = 8 * 3 + 1 + 15  # logical bytes of one loaded row
ITEM_BYTES = 8 * 5 + 2

MV_CUST = (
    "SELECT o_custkey, count(*) AS n, sum(o_totalprice) AS total "
    "FROM orders GROUP BY o_custkey"
)
MV_FLAG = (
    "SELECT o.o_orderstatus AS status, i.l_returnflag AS flag, count(*) AS n, "
    "sum(i.l_quantity) AS qty FROM orders o JOIN items i ON o.o_orderkey = i.l_orderkey "
    "GROUP BY o.o_orderstatus, i.l_returnflag"
)
REFRESH_RE = re.compile(r"\((incremental[\w-]*|full)(?:, (\d+) [^,]*recomputed)?, (\d+) rows\)")


def _same_rows(a: list, b: list) -> bool:
    """Order-insensitive row equality; floats to 1e-9 relative."""
    if len(a) != len(b):
        return False

    def key(row):  # group columns only: float sums may differ in the last bits
        return tuple(repr(v) for v in row if not isinstance(v, float))

    for x, y in zip(sorted(map(tuple, a), key=key), sorted(map(tuple, b), key=key)):
        for u, v in zip(x, y):
            if isinstance(u, float) or isinstance(v, float):
                if u is None or v is None or not math.isclose(u, v, rel_tol=1e-9):
                    return False
            elif u != v:
                return False
    return True


class Ingest:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        src = os.path.join(ctx.rundir, "input")
        self.orders_path, self.items_path = fixtures.write(
            src, ctx.seed, LOADED + MAX_CYCLES * BATCH)
        o = pq.read_table(self.orders_path, columns=["o_totalprice"])
        i = pq.read_table(self.items_path, columns=["l_orderkey", "l_quantity"])
        self.price = o.column(0).to_numpy().copy()
        self.qty = i.column(1).to_numpy().copy()
        # items of orders [0, k) are item keys [0, item_end[k])
        self.item_end = np.searchsorted(i.column(0).to_numpy(), np.arange(len(self.price) + 1))
        self.lo, self.hi = 0, LOADED  # live order keys
        self.cycle_no = 0
        self.rng = np.random.default_rng([ctx.seed, 8])
        self.reads: list[tuple[int, list, list]] = []  # (version, mv_cust rows, mv_flag rows)
        self.refreshes: list[str] = []

    def items_of(self, a: int, b: int) -> tuple[int, int]:
        return int(self.item_end[a]), int(self.item_end[b])

    def load(self, spark) -> None:
        from entangledb_spark.engine import Engine

        eng = self.eng = Engine(spark, self.ctx.db_dir)
        eng.execute(
            "CREATE TABLE orders (o_orderkey INT PRIMARY KEY, o_custkey INT NOT NULL, "
            "o_orderstatus STRING NOT NULL, o_totalprice FLOAT NOT NULL, o_orderpriority STRING)"
        )
        eng.execute(
            "CREATE TABLE items (l_itemkey INT PRIMARY KEY, "
            "l_orderkey INT NOT NULL REFERENCES orders, l_partkey INT, "
            "l_quantity FLOAT NOT NULL, l_extendedprice FLOAT, l_discount FLOAT, "
            "l_returnflag STRING NOT NULL, l_linestatus STRING)"
        )
        eng.attach_parquet("orders_src", self.orders_path)
        eng.attach_parquet("items_src", self.items_path)
        step = LOADED // LOAD_INSERTS
        for a in range(0, LOADED, step):
            eng.execute(self._insert_orders(a, a + step))
        eng.execute(self._insert_items(0, LOADED))
        eng.execute(f"CREATE MATERIALIZED VIEW mv_cust AS {MV_CUST}")
        eng.execute(f"CREATE MATERIALIZED VIEW mv_flag AS {MV_FLAG}")

    @staticmethod
    def _insert_orders(a: int, b: int) -> str:
        return (
            "INSERT INTO orders SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
            f"o_orderpriority FROM orders_src WHERE o_orderkey >= {a} AND o_orderkey < {b}"
        )

    @staticmethod
    def _insert_items(a: int, b: int) -> str:
        return (
            "INSERT INTO items SELECT l_itemkey, l_orderkey, l_partkey, l_quantity, "
            "l_extendedprice, l_discount, l_returnflag, l_linestatus FROM items_src "
            f"WHERE l_orderkey >= {a} AND l_orderkey < {b}"
        )

    def _stmt(self, kind: str, cls: str, sql: str, expect: int | None = None, rows: int = 0,
              row_bytes: int = 0):
        status_ok = (lambda r: r.status.split()[-1] == str(expect)) if expect is not None else None
        return self.ctx.op(kind, cls, lambda: self.eng.execute(sql), check=status_ok,
                           rows=rows, row_bytes=row_bytes)

    def _refresh(self, name: str):
        def ok(r) -> bool:
            m = REFRESH_RE.search(r.status)
            self.refreshes.append(r.status)
            return bool(m) and m.group(1).startswith("incremental")

        return self.ctx.op(f"refresh_{name}", "write",
                           lambda: self.eng.execute(f"REFRESH MATERIALIZED VIEW {name}"), check=ok)

    def _read(self, kind: str, sql: str, check=None):
        def fetch():
            rows, _ = self.eng.execute(sql).fetch(10**7)
            return rows

        return self.ctx.op(kind, "read", fetch, check=check)

    def cycle(self) -> None:
        c = self.cycle_no % 10
        self.cycle_no += 1
        lo, hi = self.lo, self.hi
        n_items = self.items_of(hi, hi + BATCH)
        n_new = n_items[1] - n_items[0]
        old = self.items_of(lo, lo + BATCH)
        n_old = old[1] - old[0]
        if self._stmt("insert_orders", "write", self._insert_orders(hi, hi + BATCH),
                      BATCH, BATCH, BATCH * ORDER_BYTES):
            self.hi = hi + BATCH
        self._stmt("insert_items", "write", self._insert_items(hi, hi + BATCH),
                   n_new, n_new, n_new * ITEM_BYTES)
        self._stmt("delete_items", "write",
                   f"DELETE FROM items WHERE l_orderkey >= {lo} AND l_orderkey < {lo + BATCH}",
                   n_old, n_old, n_old * 8)
        if self._stmt("delete_orders", "write",
                      f"DELETE FROM orders WHERE o_orderkey >= {lo} AND o_orderkey < {lo + BATCH}",
                      BATCH, BATCH, BATCH * 8):
            self.lo = lo + BATCH
        # ~1% of orders, ~10% of items
        keys = np.arange(self.lo, self.hi)
        hit = keys[keys % 100 == c]
        if self._stmt("update_orders", "write",
                      f"UPDATE orders SET o_totalprice = o_totalprice + 1 WHERE o_orderkey % 100 = {c}",
                      len(hit), len(hit), len(hit) * ORDER_BYTES):
            self.price[hit] += 1
        ia, ib = self.items_of(self.lo, self.hi)
        ikeys = np.arange(ia, ib)
        ihit = ikeys[ikeys % 10 == c]
        if self._stmt("update_items", "write",
                      f"UPDATE items SET l_quantity = l_quantity + 1 WHERE l_itemkey % 10 = {c}",
                      len(ihit), len(ihit), len(ihit) * ITEM_BYTES):
            self.qty[ihit] += 1
        self._refresh("mv_cust")
        r = self._refresh("mv_flag")
        cust = self._read("read_mv_cust", "SELECT * FROM mv_cust")
        flag = self._read("read_mv_flag", "SELECT * FROM mv_flag")
        if r is not None and cust is not None and flag is not None:
            self.reads.append((r.version, cust, flag))
        by_cust = {row[0]: list(row) for row in cust or []}
        for k in self.rng.integers(0, fixtures.N_CUSTOMERS, 10):
            k = int(k)
            want = [by_cust[k]] if k in by_cust else []
            self._read("point_mv_cust", f"SELECT * FROM mv_cust WHERE o_custkey = {k}",
                       check=lambda rows, want=want: cust is not None
                       and _same_rows([list(x) for x in rows], want))

    def check(self) -> list[str]:
        """After the window: each view as read against its defining query
        at the same version, and the final tables against the model."""
        bad = []
        for v, cust, flag in self.reads:
            self.eng.execute(f"BEGIN READ ONLY AS OF SYSTEM TIME {v}")
            try:
                for name, got, sql in (("mv_cust", cust, MV_CUST), ("mv_flag", flag, MV_FLAG)):
                    want, _ = self.eng.execute(sql).fetch(10**7)
                    if not _same_rows(got, want):
                        bad.append(f"{name} at v{v} differs from its defining query")
            finally:
                self.eng.execute("COMMIT")
        ia, ib = self.items_of(self.lo, self.hi)
        want = [
            ("orders", self.hi - self.lo, float(self.price[self.lo:self.hi].sum()),
             "SELECT count(*), sum(o_totalprice) FROM orders"),
            ("items", ib - ia, float(self.qty[ia:ib].sum()),
             "SELECT count(*), sum(l_quantity) FROM items"),
        ]
        for name, n, s, sql in want:
            rows, _ = self.eng.execute(sql).fetch(1)
            got_n, got_s = rows[0]
            if got_n != n or not math.isclose(got_s, s, rel_tol=1e-9):
                bad.append(f"{name}: count/sum {got_n}/{got_s} != model {n}/{s}")
        return bad

    def layer_report(self) -> dict:
        """Useful-work ratios of the refreshes, parsed from their status."""
        groups, rows, incremental = 0, 0, 0
        for status in self.refreshes:
            m = REFRESH_RE.search(status)
            if m is None:
                continue
            incremental += m.group(1).startswith("incremental")
            if m.group(2) is not None:
                groups += int(m.group(2))
                rows += int(m.group(3))
        n = max(1, len(self.refreshes))
        return {
            "matview.groups_recomputed_ratio": groups / rows if rows else 0.0,
            "matview.incremental_ratio": incremental / n,
        }


def run(ctx) -> None:
    w = Ingest(ctx)
    t0 = time.perf_counter()
    w.load(ctx.spark)
    ctx.report["setup_steps_s"] = {"load": round(time.perf_counter() - t0, 3)}
    ctx.start_window()
    while not ctx.window_over() and w.cycle_no < MAX_CYCLES:
        w.cycle()
    ctx.end_window()
    refresh = ctx.log.latencies(kind="refresh_mv_cust") + ctx.log.latencies(kind="refresh_mv_flag")
    ctx.report["refresh_p50_s"] = float(np.median(refresh)) if refresh else 0.0
    ctx.report["layer"] = w.layer_report()
    ctx.report["refresh_status"] = w.refreshes[-2:]
    ctx.check("views and tables", w.check())
