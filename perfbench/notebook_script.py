"""The notebook script each gateway client repeats, and its DuckDB oracles.

A pass is one notebook: open a session, declare the sf tables with Flink
DDL, browse the catalog, run the batch cells, write and read back a
session-private sink, switch to streaming and run one updating aggregate
over the staged events directory, then close the session. The workload seed
picks the literals and the order of the batch cells; every cell carries the
DuckDB query that gives its expected rows.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

_COLS = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": (
        "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, "
        "c_mktsegment STRING"
    ),
    "supplier": "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "orders": (
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP(3), o_orderpriority STRING"
    ),
    "lineitem": (
        "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, "
        "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, "
        "l_tax DOUBLE, l_returnflag STRING, l_linestatus STRING, "
        "l_shipdate TIMESTAMP(3)"
    ),
    "events": (
        "event_id BIGINT, ts TIMESTAMP(3), user_id BIGINT, event_type STRING, "
        "`value` DOUBLE, props STRING"
    ),
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_STATUSES = ["F", "O", "P"]


@dataclass
class Cell:
    kind: str  # a short, stable label: the statement's operation name
    sql: str
    oracle: str | None = None  # DuckDB SQL giving the expected rows
    streaming: bool = False
    expect_rows: int | None = None  # minimum row count, for the wide SELECT
    readback_of: str | None = None  # DuckDB SQL counting what INSERT wrote
    key_cols: list[int] = field(default_factory=list)  # streaming group key


def _ddl(name: str, path: str, extra: str = "") -> str:
    return (
        f"CREATE TABLE {name} ({_COLS[name.split('_')[0]]}) WITH "
        f"('connector'='filesystem','path'='{path}','format'='parquet'{extra})"
    )


def build_script(rng: random.Random, sf_dir: str, events_stage: str,
                 sink_dir: str) -> list[Cell]:
    """One notebook pass for one client; ``rng`` is that client's seeded
    stream, so each client gets its own literals and cell order."""
    lo = rng.randrange(1_000, 490_000)
    region = rng.choice(_REGIONS)
    year = rng.randrange(1995, 2001)
    etype = rng.choice(_EVENT_TYPES)
    uid_mod, uid_rem = 7, rng.randrange(7)
    wide_rem = rng.randrange(10)
    status = rng.choice(_STATUSES)
    ship_day = rng.randrange(1, 28)

    setup = [Cell("set_batch", "SET 'execution.runtime-mode' = 'batch'")]
    for t in ("region", "nation", "customer", "supplier", "orders", "lineitem", "events"):
        setup.append(Cell("create_table", _ddl(t, f"{sf_dir}/{t}.parquet")))
    setup.append(
        Cell(
            "create_sink",
            "CREATE TABLE sink (o_orderkey BIGINT, o_totalprice DOUBLE) WITH "
            f"('connector'='filesystem','path'='{sink_dir}','format'='parquet')",
        )
    )
    browse = [
        Cell("show_tables", "SHOW TABLES"),
        Cell("describe", "DESCRIBE lineitem"),
        Cell("show_create_table", "SHOW CREATE TABLE orders"),
    ]
    money = "CAST(SUM(CAST({c} AS DECIMAL(18,2))) AS DOUBLE)"
    batch = [
        Cell(
            "filter",
            "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
            f"WHERE o_totalprice BETWEEN {lo} AND {lo + 3000} "
            f"AND o_orderstatus = '{status}'",
            oracle=(
                "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
                f"WHERE o_totalprice BETWEEN {lo} AND {lo + 3000} "
                f"AND o_orderstatus = '{status}'"
            ),
        ),
        Cell(
            "q1_aggregate",
            "SELECT l_returnflag, l_linestatus, "
            f"{money.format(c='l_quantity')} AS sum_qty, "
            f"{money.format(c='l_extendedprice')} AS sum_price, "
            "COUNT(*) AS count_order FROM lineitem "
            f"WHERE l_shipdate <= TIMESTAMP '{year}-06-{ship_day:02d} 00:00:00' "
            "GROUP BY l_returnflag, l_linestatus",
            oracle=(
                "SELECT l_returnflag, l_linestatus, "
                f"{money.format(c='l_quantity')} AS sum_qty, "
                f"{money.format(c='l_extendedprice')} AS sum_price, "
                "COUNT(*) AS count_order FROM lineitem "
                f"WHERE l_shipdate <= TIMESTAMP '{year}-06-{ship_day:02d} 00:00:00' "
                "GROUP BY l_returnflag, l_linestatus"
            ),
        ),
        Cell(
            "q5_join",
            "SELECT n_name, COUNT(*) AS lines, "
            f"{money.format(c='l_extendedprice')} AS revenue "
            "FROM customer JOIN orders ON c_custkey = o_custkey "
            "JOIN lineitem ON l_orderkey = o_orderkey "
            "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
            "JOIN nation ON s_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey "
            f"WHERE r_name = '{region}' "
            f"AND o_orderdate >= TIMESTAMP '{year}-01-01 00:00:00' "
            f"AND o_orderdate < TIMESTAMP '{year + 1}-01-01 00:00:00' "
            "GROUP BY n_name",
            oracle=(
                "SELECT n_name, COUNT(*) AS lines, "
                f"{money.format(c='l_extendedprice')} AS revenue "
                "FROM customer JOIN orders ON c_custkey = o_custkey "
                "JOIN lineitem ON l_orderkey = o_orderkey "
                "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
                "JOIN nation ON s_nationkey = n_nationkey "
                "JOIN region ON n_regionkey = r_regionkey "
                f"WHERE r_name = '{region}' "
                f"AND o_orderdate >= TIMESTAMP '{year}-01-01 00:00:00' "
                f"AND o_orderdate < TIMESTAMP '{year + 1}-01-01 00:00:00' "
                "GROUP BY n_name"
            ),
        ),
        Cell(
            "tumble_groupby",
            "SELECT TUMBLE_START(ts, INTERVAL '1' HOUR) AS w, COUNT(*) AS c, "
            f"{money.format(c='`value`')} AS v FROM events "
            f"WHERE event_type = '{etype}' "
            "GROUP BY TUMBLE(ts, INTERVAL '1' HOUR)",
            oracle=(
                "SELECT date_trunc('hour', ts) AS w, COUNT(*) AS c, "
                f"{money.format(c='value')} AS v FROM events "
                f"WHERE event_type = '{etype}' GROUP BY 1"
            ),
        ),
        Cell(
            "hop_tvf",
            "SELECT window_start, window_end, COUNT(*) AS c FROM TABLE("
            "HOP(TABLE events, DESCRIPTOR(ts), INTERVAL '1' HOUR, INTERVAL '3' HOUR)) "
            f"WHERE user_id % {uid_mod} = {uid_rem} "
            "GROUP BY window_start, window_end",
            oracle=(
                "SELECT date_trunc('hour', ts) - k * INTERVAL 1 HOUR AS window_start, "
                "date_trunc('hour', ts) - k * INTERVAL 1 HOUR + INTERVAL 3 HOUR "
                "AS window_end, COUNT(*) AS c "
                "FROM events, (SELECT unnest(range(3)) AS k) "
                f"WHERE user_id % {uid_mod} = {uid_rem} GROUP BY 1, 2"
            ),
        ),
        Cell(
            "wide_select",
            "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
            f"o_orderpriority FROM orders WHERE o_orderkey % 10 = {wide_rem}",
            oracle=(
                "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
                f"o_orderpriority FROM orders WHERE o_orderkey % 10 = {wide_rem}"
            ),
            expect_rows=10_000,
        ),
    ]
    rng.shuffle(batch)
    insert_pred = f"o_orderstatus = '{status}' AND o_totalprice > {lo}"
    write = [
        Cell(
            "insert",
            f"INSERT INTO sink SELECT o_orderkey, o_totalprice FROM orders WHERE {insert_pred}",
        ),
        Cell(
            "readback",
            "SELECT COUNT(*) AS n FROM sink",
            readback_of=f"SELECT COUNT(*) AS n FROM orders WHERE {insert_pred}",
        ),
    ]
    stream_pred = f"user_id % {uid_mod} = {uid_rem}"
    stream = [
        Cell("set_streaming", "SET 'execution.runtime-mode' = 'streaming'"),
        Cell(
            "create_stream_table",
            _ddl(
                "events_stream",
                events_stage,
                ",'source.max-files-per-trigger'='1'",
            ),
        ),
        Cell(
            "stream_groupby",
            "SELECT event_type, COUNT(*) AS c, MAX(event_id) AS last_id "
            f"FROM events_stream WHERE {stream_pred} GROUP BY event_type",
            oracle=(
                "SELECT event_type, COUNT(*) AS c, MAX(event_id) AS last_id "
                f"FROM events WHERE {stream_pred} GROUP BY event_type"
            ),
            streaming=True,
            key_cols=[0],
        ),
    ]
    return setup + browse + batch + write + stream
