"""Workload ``dca_pipeline``: the reference's write path and its reads.

Why: this is the paper's core ETL (Glue job -> keyed upsert ->
hive-sync), driven through ``execute_orders`` and ``process_orders``
with a seeded exchange connector passed as ``orderers=``. Each simulated
day is one write op; five Athena-style read ops on
``dca_manager.transactions`` follow it.

Inputs (all from the seed): a config of ``N_ENABLED`` enabled orders on
distinct pairs plus ``N_DISABLED`` disabled ones; ``HISTORY_DAYS`` days
of orders placed during set-up; per day about 10% of the messages
redelivered (SQS at-least-once) and ``SHADOW_PER_DAY`` messages with
``real=false`` (the skip-and-ack path). ``process_orders`` reloads the
whole ``exchange=`` prefix every day, so rows scanned grow with history.
"""

from __future__ import annotations

import importlib
import json
import os
import random
from dataclasses import dataclass

from perfbench.common import GateError, Op, tree_bytes

N_ENABLED = 50
N_DISABLED = 4
HISTORY_DAYS = 1
SHADOW_PER_DAY = 3
REDELIVER_FRAC = 0.10
EXCHANGE = "kraken"
BASE_TS = 1_700_000_000  # 2023-11-14, a fixed epoch for day 0

_BASES = ("XBT ETH ADA DOT SOL LTC XRP XLM LINK UNI ATOM ALGO AVAX MATIC "
          "DOGE TRX BCH EOS FIL AAVE COMP SNX GRT KSM XTZ MANA SAND CRV "
          "BAT ZEC").split()
_QUOTES = ("GBP", "EUR")

# Five read kinds, not four: the kinds' latencies differ, and with an even
# number of kinds in equal shares the median of the pooled reads is the
# midpoint between two kinds, which jumps with either. An odd number puts
# it inside the middle kind.
READS = {
    "cost_basis": """
        SELECT pair, count(*) AS n, sum(volume) AS volume,
               sum(volume * price) AS invested, sum(fee) AS fees
        FROM dca_manager.transactions GROUP BY pair""",
    "running_invested": """
        SELECT pair, close_time,
               sum(volume * price) OVER (PARTITION BY pair
                   ORDER BY close_time, transaction_id
                   ROWS UNBOUNDED PRECEDING) AS invested
        FROM dca_manager.transactions""",
    "last_price": """
        SELECT pair, max_by(price, close_time) AS last_price,
               max(close_time) AS last_close
        FROM dca_manager.transactions GROUP BY pair""",
    "daily_totals": """
        SELECT to_date(close_time) AS day, count(*) AS n,
               sum(volume * price + fee) AS spent
        FROM dca_manager.transactions GROUP BY 1 ORDER BY 1""",
    "monthly_fees": """
        SELECT pair, date_trunc('MONTH', close_time) AS month,
               sum(fee) AS fees, sum(volume) AS volume
        FROM dca_manager.transactions GROUP BY 1, 2""",
}


@dataclass(frozen=True)
class Fill:
    pair: str
    order_type: str
    side: str
    price_c: int  # price in cents
    volume_u: int  # volume in 1e-4 units
    fee_c: int  # fee in cents
    open_time: int
    close_time: int


def _dec(units: int, places: int) -> str:
    sign = "-" if units < 0 else ""
    units = abs(units)
    return f"{sign}{units // 10 ** places}.{units % 10 ** places:0{places}d}"


class SeededExchange:
    """An exchange connector (the ``Orderer`` protocol) whose fills are a
    pure function of (seed, day, pair). It also keeps the ground truth:
    every order it placed."""

    def __init__(self, seed: int) -> None:
        from dca_manager_spark.pipeline.connectors import OrderComplete, OrderFulfilled

        self._complete = OrderComplete
        self._fulfilled = OrderFulfilled
        self.seed = seed
        self.day = 0
        self.fills: dict[str, Fill] = {}
        self.placed_today: list[str] = []

    def _rng(self, *parts) -> random.Random:
        return random.Random(":".join(str(p) for p in (self.seed, *parts)))

    def make_order(self, order: dict):
        pair = order["pair"]
        rng = self._rng("fill", self.day, pair, order["volume"])
        txid = f"O{self.day:04d}{rng.randrange(16 ** 8):08X}-{pair}"
        base_c = self._rng("base", pair).randrange(50, 5_000_000)
        price_c = max(1, round(base_c * rng.uniform(0.85, 1.15)))
        volume_u = round(float(order["volume"]) * 10_000)
        fee_c = (price_c * volume_u * 26 + 5_000_000) // 10_000_000  # 0.26%
        opened = BASE_TS + self.day * 86_400 + rng.randrange(3_600)
        fill = Fill(pair, order.get("order_type") or "market",
                    order.get("type") or "buy", price_c, volume_u, fee_c,
                    opened, opened + rng.randrange(1, 600))
        self.fills[txid] = fill
        self.placed_today.append(txid)
        return self._fulfilled(
            transaction_id=txid, timestamp=opened,
            result={"descr": {"pair": pair, "type": fill.side,
                              "ordertype": fill.order_type}},
        )

    def process_transaction(self, transaction_id: str):
        f = self.fills[transaction_id]
        return [self._complete(
            transaction_id=transaction_id, exchange_status="closed",
            pair=f.pair, order_type=f.order_type, type=f.side,
            price=_dec(f.price_c, 2), fee=_dec(f.fee_c, 2),
            volume=_dec(f.volume_u, 4), open_time=float(f.open_time),
            close_time=float(f.close_time),
        )]


def make_config(seed: int) -> dict:
    rng = random.Random(f"{seed}:config")
    pairs = rng.sample([b + q for b in _BASES for q in _QUOTES], N_ENABLED + N_DISABLED)
    orders = []
    for i, pair in enumerate(pairs):
        order = {"exchange": EXCHANGE, "pair": pair, "type": "buy",
                 "order_type": "limit" if rng.random() < 0.2 else "market",
                 "volume": _dec(rng.randrange(10, 50_000), 4),
                 "enabled": i < N_ENABLED}
        if order["order_type"] == "limit":
            order["price"] = _dec(rng.randrange(100, 10_000_000), 2)
        orders.append(order)
    rng.shuffle(orders)
    return {"orders": orders}


def expected_table(fills: dict[str, Fill]) -> dict:
    """Pure-Python ground truth: the key set and per-pair sums."""
    keys = {(txid, f.close_time) for txid, f in fills.items()}
    per_pair: dict[str, list[int]] = {}
    for f in fills.values():
        acc = per_pair.setdefault(f.pair, [0, 0, 0])
        acc[0] += 1
        acc[1] += f.price_c * f.volume_u  # volume x price in 1e-6 units
        acc[2] += f.fee_c
    return {"keys": keys, "per_pair": per_pair}


def check_table(rows: list[tuple], truth: dict, queue_size: int) -> None:
    """Gate: ``rows`` are (transaction_id, close_time epoch s, pair,
    volume, price, fee) from the final table. One row per key, the exact
    key set, and per-pair count, volume x price and fee sums in integer
    units; the queue must be drained."""
    if queue_size:
        raise GateError(f"queue not drained: {queue_size} messages left")
    keys = [(r[0], int(r[1])) for r in rows]
    if len(keys) != len(set(keys)):
        raise GateError(f"duplicate keys: {len(keys) - len(set(keys))} extra rows")
    if set(keys) != truth["keys"]:
        missing = truth["keys"] - set(keys)
        extra = set(keys) - truth["keys"]
        raise GateError(f"key set differs: {len(missing)} missing, {len(extra)} unexpected")
    got: dict[str, list[int]] = {}
    for _, _, pair, volume, price, fee in rows:
        acc = got.setdefault(pair, [0, 0, 0])
        acc[0] += 1
        acc[1] += round(price * 100) * round(volume * 10_000)
        acc[2] += round(fee * 100)
    if got != truth["per_pair"]:
        bad = sorted(p for p in set(got) | set(truth["per_pair"])
                     if got.get(p) != truth["per_pair"].get(p))
        raise GateError(f"per-pair sums differ for {len(bad)} pairs, e.g. {bad[:3]}")


class DcaPipeline:
    name = "dca_pipeline"

    # One cycle's length on a 4-core box: ``--seconds`` / cycle_s cycles run.
    cycle_s = 6.5

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.day = 0

    # -- state ------------------------------------------------------------
    def setup(self) -> None:
        from dca_manager_spark.streaming.queue_source import FileQueue

        # the package re-exports these functions under the module names
        self._eo = importlib.import_module("dca_manager_spark.pipeline.execute_orders")
        self._po = importlib.import_module("dca_manager_spark.pipeline.process_orders")
        root = os.path.join(self.ctx.state_dir, "dca")
        self.data_dir = os.path.join(root, "bucket")
        self.table_path = os.path.join(root, "lake", "transactions")
        self.config_path = os.path.join(root, "config.json")
        os.makedirs(self.data_dir)
        with open(self.config_path, "w") as fh:
            json.dump(make_config(self.ctx.seed), fh)
        self.queue = FileQueue(os.path.join(root, "queue"))
        self.exchange = SeededExchange(self.ctx.seed)
        self.orderers = {EXCHANGE: self.exchange}
        # History: HISTORY_DAYS days of orders, loaded by one process run.
        for day in range(HISTORY_DAYS):
            self.exchange.day = day
            self._execute()
        self._process()
        self.day = HISTORY_DAYS

    def _execute(self) -> None:
        self._eo.execute_orders(self.spark, self.config_path, self.data_dir,
                                self.queue, real=True, orderers=self.orderers)

    def _process(self) -> None:
        self._po.process_orders(self.spark, self.queue, self.data_dir,
                                self.table_path, orderers=self.orderers)

    def sizes(self) -> dict:
        return {"enabled_orders": N_ENABLED, "disabled_orders": N_DISABLED,
                "history_days": HISTORY_DAYS, "rows_at_start": len(self.exchange.fills)}

    # -- traffic ----------------------------------------------------------
    def _write_day(self) -> None:
        pending_key = self._eo.pending_key
        day = self.day
        self.exchange.day = day
        self.exchange.placed_today = []
        self._execute()
        rng = random.Random(f"{self.ctx.seed}:deliveries:{day}")
        placed = self.exchange.placed_today
        for txid in rng.sample(placed, max(1, round(len(placed) * REDELIVER_FRAC))):
            self.queue.publish(transaction_id=txid, s3_bucket=self.data_dir,
                               s3_key=pending_key(EXCHANGE, txid),
                               exchange=EXCHANGE, real=True)
        for i in range(SHADOW_PER_DAY):
            txid = f"S{day:04d}{i:02d}-{rng.randrange(16 ** 5):05X}"
            self.queue.publish(transaction_id=txid, s3_bucket=self.data_dir,
                               s3_key=pending_key(EXCHANGE, txid),
                               exchange=EXCHANGE, real=False)
        self._process()
        self.day += 1

    def cycle(self) -> list[Op]:
        ops: list[Op] = [Op("write", "day", self._write_day,
                            info=lambda _: {"new_rows": len(self.exchange.placed_today)})]
        for label, sql in READS.items():
            ops.append(Op("read", label, lambda sql=sql: self.spark.sql(sql)))
        return ops

    # -- checks -----------------------------------------------------------
    def check(self, last_reads: dict) -> None:
        rows = [tuple(r) for r in self.spark.sql(
            "SELECT transaction_id, CAST(close_time AS BIGINT), pair, volume, "
            "price, fee FROM dca_manager.transactions").collect()]
        truth = expected_table(self.exchange.fills)
        check_table(rows, truth, self.queue.size())
        counts = {r["pair"]: r["n"] for r in last_reads.get("cost_basis", [])}
        want = {p: acc[0] for p, acc in truth["per_pair"].items()}
        if counts != want:
            raise GateError("cost_basis read disagrees with the ground-truth counts")

    def stored_bytes_per_row(self) -> float:
        return tree_bytes(self.table_path, ".parquet") / len(self.exchange.fills)
