"""``oltp``: short statements from one client over loopback TCP.

One ``EngineClient`` connection to an in-process ``EngineServer``; closed
loop, the next statement is sent when the previous reply arrives. Tables
are engine-owned: ``acct`` (INT primary key) and ``txn`` (foreign key to
``acct``). Each cycle runs a fixed deck of 20 statements, 12 reads and 8
writes, in a fixed interleaved order:

- reads: 7 point SELECTs by PK, 2 range aggregates over 1000 keys, 3 point
  reads ``AS OF SYSTEM TIME`` a recent version;
- writes: INSERT into ``txn`` (FK check), UPDATE ``acct`` by PK, DELETE from
  ``txn`` by PK, a one-row MERGE into ``acct``, and BEGIN; 2 x UPDATE; COMMIT.

Keys: 80% from a Zipf law over a seeded permutation of the accounts, 20%
uniform; a third of point reads target the account written last.

The benchmark keeps a model of every row it wrote, with the version each
change committed at, and checks every read, and the final table contents,
against it.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_ACCT = 20_000
N_TXN = 20_000
RANGE = 1_000
# logical bytes of one written row (8 per INT, 4 for a typical owner), the
# denominator of storage.write_amp
ACCT_BYTES, TXN_BYTES, KEY_BYTES = 20, 24, 8
# fixed order, reads spread between writes: every run meets the same
# delta-chain lengths (reads merge base + deltas; the 8th delta compacts).
# INSERT and MERGE come first, so their one-off first-use cost does not
# land on the reads' code paths half-way through the deck.
DECK = [
    "insert", "point", "merge", "point", "range", "asof", "update", "point",
    "point", "asof", "delete", "point", "range", "asof", "point", "point", "txn",
]


class Model:
    """What the tables must hold, and what ``acct`` held at each version."""

    def __init__(self, rng: np.random.Generator) -> None:
        self.balance = {i: int(b) for i, b in enumerate(rng.integers(0, 10_000, N_ACCT))}
        self.owner = {i: f"u{i % 997}" for i in range(N_ACCT)}
        acct_of = rng.integers(0, N_ACCT, N_TXN)
        amount = rng.integers(1, 1_000, N_TXN)
        self.txn = {i: (int(acct_of[i]), int(amount[i])) for i in range(N_TXN)}
        self.txn_ids = list(self.txn)
        self.history: dict[int, list[tuple[int, int]]] = {}
        self.versions: list[int] = []

    def set_balance(self, key: int, value: int, version: int) -> None:
        if key not in self.history:
            self.history[key] = [(-1, self.balance.get(key))]
        self.history[key].append((version, value))
        self.balance[key] = value

    def balance_at(self, key: int, version: int):
        hist = self.history.get(key)
        if hist is None:
            return self.balance.get(key)
        value = None
        for v, b in hist:
            if v <= version:
                value = b
        return value


class Oltp:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.rng = np.random.default_rng([ctx.seed, 1])
        self.model = Model(np.random.default_rng([ctx.seed, 0]))
        self.perm = self.rng.permutation(N_ACCT)
        self.next_acct = N_ACCT
        self.next_txn = N_TXN
        self.last_key = 0

    # ------------------------------------------------------------ inputs

    def key(self) -> int:
        if self.rng.random() < 0.8:
            return int(self.perm[min(int(self.rng.zipf(1.2)) - 1, N_ACCT - 1)])
        return int(self.rng.integers(0, N_ACCT))

    def load(self, spark, db_dir: str) -> None:
        from entangledb_spark.engine import Engine

        m = self.model
        src = os.path.join(self.ctx.rundir, "input")
        os.makedirs(src, exist_ok=True)
        ids = np.arange(N_ACCT)
        pq.write_table(
            pa.table({
                "id": ids,
                "owner": [m.owner[i] for i in range(N_ACCT)],
                "balance": np.array([m.balance[i] for i in range(N_ACCT)]),
            }),
            os.path.join(src, "acct.parquet"),
        )
        pq.write_table(
            pa.table({
                "id": np.arange(N_TXN),
                "acct_id": np.array([m.txn[i][0] for i in range(N_TXN)]),
                "amount": np.array([m.txn[i][1] for i in range(N_TXN)]),
            }),
            os.path.join(src, "txn.parquet"),
        )
        eng = Engine(spark, db_dir)
        eng.execute(
            "CREATE TABLE acct (id INT PRIMARY KEY, owner STRING NOT NULL, "
            "balance INT NOT NULL)"
        )
        eng.execute(
            "CREATE TABLE txn (id INT PRIMARY KEY, acct_id INT NOT NULL REFERENCES acct, "
            "amount INT NOT NULL)"
        )
        eng.attach_parquet("acct_in", os.path.join(src, "acct.parquet"))
        eng.attach_parquet("txn_in", os.path.join(src, "txn.parquet"))
        eng.execute("INSERT INTO acct SELECT id, owner, balance FROM acct_in")
        r = eng.execute("INSERT INTO txn SELECT id, acct_id, amount FROM txn_in")
        m.versions.append(r.version)
        self.engine = eng

    # ------------------------------------------------------------ one cycle

    def cycle(self, client) -> None:
        from entangledb_spark.engine_base import EngineError

        ctx, m = self.ctx, self.model
        for unit in DECK:
            if unit == "point":
                k = self.last_key if self.rng.random() < 1 / 3 else self.key()
                expect = None if k not in m.balance else [[k, m.owner[k], m.balance[k]]]
                ctx.op("point", "read",
                       lambda k=k: client.execute(f"SELECT id, owner, balance FROM acct WHERE id = {k}"),
                       check=lambda r, e=expect: r["rows"] == (e or []))
            elif unit == "range":
                lo = self.key() // RANGE * RANGE
                vals = [m.balance[i] for i in range(lo, lo + RANGE) if i in m.balance]
                expect = [[len(vals), sum(vals) if vals else None]]
                ctx.op("range", "read",
                       lambda lo=lo: client.execute(
                           f"SELECT count(*) AS n, sum(balance) AS s FROM acct "
                           f"WHERE id >= {lo} AND id < {lo + RANGE}"),
                       check=lambda r, e=expect: r["rows"] == e)
            elif unit == "asof":
                k = self.key()
                v = m.versions[-1 - int(self.rng.integers(0, min(10, len(m.versions))))]
                expect = m.balance_at(k, v)
                ctx.op("asof", "read",
                       lambda k=k, v=v: client.execute(
                           f"SELECT balance FROM acct AS OF SYSTEM TIME {v} WHERE id = {k}"),
                       check=lambda r, e=expect: r["rows"] == ([[e]] if e is not None else []))
            elif unit == "insert":
                tid, k = self.next_txn, self.key()
                amt = int(self.rng.integers(1, 1_000))
                r = ctx.op("insert", "write",
                           lambda: client.execute(f"INSERT INTO txn VALUES ({tid}, {k}, {amt})"),
                           rows=1, row_bytes=TXN_BYTES)
                if r is not None:
                    self.next_txn += 1
                    m.txn[tid] = (k, amt)
                    m.txn_ids.append(tid)
                    m.versions.append(r["version"])
            elif unit == "delete":
                ids = m.txn_ids
                i = len(ids) - 1 if self.rng.random() < 0.5 else int(self.rng.integers(0, len(ids)))
                tid = ids[i]
                r = ctx.op("delete", "write",
                           lambda: client.execute(f"DELETE FROM txn WHERE id = {tid}"),
                           rows=1, row_bytes=KEY_BYTES)
                if r is not None:
                    ids[i] = ids[-1]
                    ids.pop()
                    del m.txn[tid]
                    m.versions.append(r["version"])
            elif unit == "update":
                k, d = self.key(), int(self.rng.integers(-50, 51))
                r = ctx.op("update", "write",
                           lambda: client.execute(
                               f"UPDATE acct SET balance = balance + {d} WHERE id = {k}"),
                           rows=1, row_bytes=ACCT_BYTES)
                if r is not None:
                    m.set_balance(k, m.balance[k] + d, r["version"])
                    m.versions.append(r["version"])
                    self.last_key = k
            elif unit == "merge":
                if self.rng.random() < 0.25:
                    k = self.next_acct
                else:
                    k = self.key()
                b = int(self.rng.integers(0, 10_000))
                r = ctx.op("merge", "write",
                           lambda: client.execute(
                               f"MERGE INTO acct USING (SELECT {k} AS id, {b} AS balance) AS s "
                               "ON acct.id = s.id WHEN MATCHED THEN UPDATE SET balance = s.balance "
                               "WHEN NOT MATCHED THEN INSERT (id, owner, balance) "
                               "VALUES (s.id, 'm', s.balance)"),
                           rows=1, row_bytes=ACCT_BYTES)
                if r is not None:
                    if k == self.next_acct:
                        self.next_acct += 1
                        m.owner[k] = "m"
                    m.set_balance(k, b, r["version"])
                    m.versions.append(r["version"])
                    self.last_key = k
            else:  # txn: a transfer between two accounts
                a, b = self.key(), self.key()
                amt = int(self.rng.integers(1, 100))
                r = ctx.op("begin", "write", lambda: client.execute("BEGIN"))
                for k, d in ((a, -amt), (b, amt)):
                    r = r and ctx.op("txn_update", "write", lambda k=k, d=d: client.execute(
                        f"UPDATE acct SET balance = balance + {d} WHERE id = {k}"),
                        rows=1, row_bytes=ACCT_BYTES)
                r = r and ctx.op("commit", "write", lambda: client.execute("COMMIT"))
                if r:
                    m.set_balance(a, m.balance[a] - amt, r["version"])
                    m.set_balance(b, m.balance[b] + amt, r["version"])
                    m.versions.append(r["version"])
                    self.last_key = b
                else:
                    try:
                        client.execute("ROLLBACK")
                    except EngineError:
                        pass  # the failed statement already ended the transaction

    # ------------------------------------------------------------ final check

    def final_check(self) -> list[str]:
        m, eng = self.model, self.engine
        bad = []
        rows, _ = eng.execute("SELECT id, owner, balance FROM acct").fetch(10**7)
        got = {r[0]: (r[1], r[2]) for r in rows}
        want = {k: (m.owner[k], b) for k, b in m.balance.items()}
        if got != want:
            bad.append("acct contents differ from the model")
        rows, _ = eng.execute("SELECT id, acct_id, amount FROM txn").fetch(10**7)
        if {r[0]: (r[1], r[2]) for r in rows} != m.txn:
            bad.append("txn contents differ from the model")
        return bad


def run(ctx) -> None:
    from entangledb_spark.server import EngineClient, EngineServer

    w = Oltp(ctx)
    t0 = time.perf_counter()
    w.load(ctx.spark, ctx.db_dir)
    t1 = time.perf_counter()
    server = EngineServer(ctx.spark, ctx.db_dir)
    thread = server.serve_in_background()
    client = EngineClient(*server.address)
    try:
        ctx.report["setup_steps_s"] = {"load": round(t1 - t0, 3)}
        ctx.start_window()
        while not ctx.window_over():
            w.cycle(client)
        ctx.end_window()
    finally:
        client.close()
        server.shutdown()
        server.server_close()
        thread.join(timeout=30)
    ctx.check("final table contents", w.final_check())
