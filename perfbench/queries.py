"""The benchmark's stored query and its independent oracle.

``STAR_SQL`` is a four-way star-join aggregate over the store's
``lineitem``, ``orders``, ``customer`` and ``nation``, in the
ClickHouse dialect, bound and translated by the program under test
(``functions.params`` + ``functions.dialect``). It reads the store's
tables through the permanent views ``benchsrc.<table>`` (see
``harness.bind_snapshot``), never the raw source files. The oracle
evaluates the same bound query with DuckDB over the exact snapshot
files a request read.
"""

from __future__ import annotations

from string import Template

from ora_ch_spark.specs import ParamType, QueryParam

SRC_DB = "benchsrc"
TABLES = ("lineitem", "orders", "customer", "nation")  # store tables it reads
PARTS_KEY = "nation"  # export slicing key (copy_by_parts_key)
CACHE_KEYS = ("nation", "segment", "order_year")  # local-cache promotion keys

STAR_SQL = """
select n_name as nation,
       c_mktsegment as segment,
       toYear(o_orderdate) as order_year,
       count(*) as n_lines,
       sum(cast(l_quantity as decimal(18,2))) as qty,
       sum(cast(l_extendedprice as decimal(18,2))) as revenue,
       sum(cast(l_extendedprice as decimal(18,2))
           * (1 - cast(l_discount as decimal(18,2)))) as net
from benchsrc.lineitem
join benchsrc.orders on l_orderkey = o_orderkey
join benchsrc.customer on o_custkey = c_custkey
join benchsrc.nation on c_nationkey = n_nationkey
where o_orderdate >= parseDateTime({from_date:String}, '%Y-%m-%d')
  and o_orderdate < parseDateTime({to_date:String}, '%Y-%m-%d')
  and l_discount != {skip_disc:Decimal(38,6)}
  and o_orderkey % 7 != {skip_rem:UInt32}
group by n_name, c_mktsegment, toYear(o_orderdate)
"""

STAR_PARAMS = (
    QueryParam("from_date", ParamType.STRING, 1),
    QueryParam("to_date", ParamType.STRING, 2),
    QueryParam("skip_disc", ParamType.DECIMAL, 3),
    QueryParam("skip_rem", ParamType.UINT32, 4),
)

_STAR_ORACLE = Template("""
SELECT n_name AS nation, c_mktsegment AS segment,
       cast(year(o_orderdate) as int) AS order_year,
       count(*) AS n_lines,
       sum(cast(l_quantity as decimal(18,2))) AS qty,
       sum(cast(l_extendedprice as decimal(18,2))) AS revenue,
       sum(cast(l_extendedprice as decimal(18,2))
           * (1 - cast(l_discount as decimal(18,2)))) AS net
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= timestamp '$from_date'
  AND o_orderdate < timestamp '$to_date'
  AND l_discount != $skip_disc
  AND o_orderkey % 7 != $skip_rem
GROUP BY 1, 2, 3
""")


def oracle_sql(params: dict[str, str]) -> str:
    """DuckDB text of the query bound with ``params``; it reads
    ``lineitem``, ``orders``, ``customer`` and ``nation``."""
    return _STAR_ORACLE.substitute(params)
