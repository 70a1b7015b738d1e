"""Seeded request schedules — pure functions of the run seed.

Everything a run sends is decided here before the service starts, so
the same seed gives the same requests, and the correctness replay
(``oracle.py``) needs nothing but this schedule and the source history.

Sync cycles: the source history advances by a fixed key step per
cycle; each cycle is one degree-4 task over it. Calc requests: the
stored query with seeded parameters.
"""

from __future__ import annotations

import datetime
import random
from dataclasses import dataclass, field

from datagen import N_ORDERS, order_day
from queries import PARTS_KEY

EPOCH = datetime.date(1992, 1, 1)  # day 0 of datagen's history

SCHEMA = "ch"
KEY_COLUMNS = {"lineitem": ["l_orderkey", "l_linenumber"]}
DIMENSIONS = ("region", "nation", "supplier")
# set-up seeds the store with orders 1 .. START_CURSOR; each cycle
# then advances the source by KEY_STEP orders
START_CURSOR = N_ORDERS * 74 // 100
KEY_STEP = 500
WINDOW_DAYS = 18  # width of the append_where shipdate window
UPDATE_KEYS = 200  # order keys in each cycle's update batch
# cycles are generated up front; a run stops long before this many
MAX_CYCLES = 50
MAX_CALCS = 400
PROMOTE_EVERY = 3  # every third calc request promotes to the local cache
CALC_PARTS = 4


def _date(day: int) -> str:
    """ISO date of a day offset from the history epoch."""
    return (EPOCH + datetime.timedelta(days=day)).isoformat()


@dataclass(frozen=True)
class SyncCycle:
    """One /task request: the source cursor after this cycle's step,
    the ``append_where`` shipdate window and the update batch."""

    index: int
    cursor: int  # highest source order key visible to this cycle
    window: tuple[str, str]  # [lo, hi) l_shipdate refresh window
    update_keys: tuple[int, int]  # [lo, hi] order keys of the update batch

    def body(self) -> dict:
        """The POST /task JSON (field names per ReqNewTask)."""
        lo, hi = self.window
        tables = [{"name": d, "operation": "recreate"} for d in DIMENSIONS]
        tables += [
            {"name": "orders", "operation": "append_bymax",
             "sync_by_column_max": "o_orderkey"},
            {"name": "lineitem", "operation": "append_notin",
             "sync_by_columns": "l_orderkey,l_linenumber"},
            {"name": "lineitem_win", "operation": "append_where",
             "src_table_full_name": f"{SCHEMA}.lineitem",
             "where_filter": f"l_shipdate >= timestamp'{lo}' "
                             f"and l_shipdate < timestamp'{hi}'"},
            {"name": "lineitem", "operation": "update",
             "src_table_full_name": "staging.lineitem_upd",
             "update_fields": "l_discount,l_tax"},
        ]
        return {"parallel": {"degree": 4},
                "schemas": [{"schema": SCHEMA, "tables": tables}]}


def seed_body(tables) -> dict:
    """The set-up task: ``recreate`` of every table from the starting
    slice of the history."""
    return {"parallel": {"degree": 4},
            "schemas": [{"schema": SCHEMA, "tables": [
                {"name": t, "operation": "recreate"} for t in tables]}]}


@dataclass(frozen=True)
class SyncSchedule:
    start_cursor: int
    cycles: tuple[SyncCycle, ...]


def sync_schedule(seed: int) -> SyncSchedule:
    """Every seed does the same amount of work: the starting slice, the
    key step, the window width and the update batch size are fixed, and
    the seed picks only where the window and the batch fall."""
    rng = random.Random(f"sync/{seed}")
    cursor = START_CURSOR
    cycles = []
    for i in range(MAX_CYCLES):
        cursor += KEY_STEP
        top_day = int(order_day(cursor))
        lo_day = top_day - rng.randrange(WINDOW_DAYS, 90)
        # recent keys: the orders appended by this cycle or the one before
        hi_key = cursor - rng.randrange(0, KEY_STEP)
        cycles.append(SyncCycle(
            index=i,
            cursor=cursor,
            window=(_date(lo_day), _date(lo_day + WINDOW_DAYS)),
            update_keys=(hi_key - UPDATE_KEYS, hi_key),
        ))
    return SyncSchedule(start_cursor=START_CURSOR, cycles=tuple(cycles))


@dataclass(frozen=True)
class CalcRequest:
    index: int
    params: dict[str, str] = field(hash=False)
    promote: bool = False


def calc_schedule(seed: int) -> tuple[CalcRequest, ...]:
    """Stored-query requests with seeded parameters; every third one
    promotes its export to the local cache. Each parameter picks a value
    of fixed cost: a two-year window of the same history, one excluded
    discount value, one excluded key residue."""
    rng = random.Random(f"calc/{seed}")
    out = []
    for i in range(MAX_CALCS):
        y = rng.randrange(1992, 1995)
        params = {
            "from_date": f"{y}-01-01",
            "to_date": f"{y + 2}-01-01",
            "skip_disc": f"0.{rng.randrange(0, 11):02d}",
            "skip_rem": str(rng.randrange(0, 7)),
        }
        out.append(CalcRequest(index=i, params=params,
                               promote=i % PROMOTE_EVERY == PROMOTE_EVERY - 1))
    return tuple(out)


def calc_body(req: CalcRequest, query_id: int) -> dict:
    """The POST /calc JSON (field names per ReqCalcSrc)."""
    q = {
        "query_id": query_id,
        "order_by": 0,
        "copy_by_parts_key": PARTS_KEY,
        "copy_by_parts_cnt": CALC_PARTS,
        "params": [{"name": k, "value": v} for k, v in req.params.items()],
    }
    if req.promote:
        q["copy_to_local_cache"] = 1
    return {"queries": [q]}


def update_values_sql(cycle: str, alias: str = "") -> tuple[str, str]:
    """New ``(l_discount, l_tax)`` of a line updated by cycle number
    ``cycle`` (an SQL expression), over ``l_orderkey``/``l_linenumber``
    of relation ``alias``; the same text runs in Spark and DuckDB."""
    a = f"{alias}." if alias else ""
    return (
        f"(({a}l_orderkey * 7 + {a}l_linenumber * 3 + {cycle}) % 11) / 100.0",
        f"(({a}l_orderkey * 5 + {a}l_linenumber + {cycle}) % 9) / 100.0",
    )
