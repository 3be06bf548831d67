"""sqlite-dialect TPC-H variants, registered as oracle-gated queries.

The reference benchmarks ship alternate texts for q7/q8 that sqlite can
run (packages/benchmarks/scripts/tpch/7-sqlite.sql, 8-sqlite.sql;
issued by packages/benchmarks/src/system/sqljs_benchmarks.ts). The two
texts here are written in that dialect over the test schema:
`strftime('%Y', d)` instead of `extract(year from d)`, comma joins,
string date bounds, and q8's CASE market share. Registering them puts
the dialect translator's strftime→date_format path under the registry's
hash-exact oracle gate, not just pytest. The sqlite variants of q9 and
q22 are left out: they need `partsupp` and `customer.c_phone`, which the
test schema omits.

Determinism: a plain double SUM depends on partition order and cannot
hash-match across engines, so every float SUM accumulates in
DECIMAL(25,8) and casts to double once (the repo-wide policy,
plans/_util.py). The doubles being summed are within ~1e-12 of exact
4-decimal values, so the 8-decimal cast is unambiguous and identical in
both engines.
"""

from __future__ import annotations

from duckdb_wasm_spark.plans._util import sql_dsum, sql_query


def _dec_sum(expr: str) -> str:
    return sql_dsum(f"cast({expr} as decimal(25,8))")


ORACLE: dict[str, str] = {
    "ref_q7_sqlite": f"""
select
    supp_nation,
    cust_nation,
    l_year,
    {_dec_sum("volume")} as revenue
from (
    select
        n1.n_name as supp_nation,
        n2.n_name as cust_nation,
        strftime('%Y', l_shipdate) as l_year,
        l_extendedprice * (1 - l_discount) as volume
    from supplier, lineitem, orders, customer, nation n1, nation n2
    where s_suppkey = l_suppkey
      and o_orderkey = l_orderkey
      and c_custkey = o_custkey
      and s_nationkey = n1.n_nationkey
      and c_nationkey = n2.n_nationkey
      and ((n1.n_name = 'NATION_1' and n2.n_name = 'NATION_2')
        or (n1.n_name = 'NATION_2' and n2.n_name = 'NATION_1'))
      and l_shipdate between '1996-01-01' and '1997-12-31'
) as shipping
group by supp_nation, cust_nation, l_year
order by supp_nation, cust_nation, l_year
""",
    "ref_q8_sqlite": f"""
select
    o_year,
    {_dec_sum("case when nation = 'NATION_3' then volume else 0 end")}
      / {_dec_sum("volume")} as mkt_share
from (
    select
        strftime('%Y', o_orderdate) as o_year,
        l_extendedprice * (1 - l_discount) as volume,
        n2.n_name as nation
    from part, supplier, lineitem, orders, customer, nation n1, nation n2,
         region
    where p_partkey = l_partkey
      and s_suppkey = l_suppkey
      and l_orderkey = o_orderkey
      and o_custkey = c_custkey
      and c_nationkey = n1.n_nationkey
      and n1.n_regionkey = r_regionkey
      and r_name = 'AMERICA'
      and s_nationkey = n2.n_nationkey
      and o_orderdate between '1995-01-01' and '1996-12-31'
      and p_type = 'ECONOMY'
) as all_nations
group by o_year
order by o_year
""",
}

QUERIES: dict = {name: sql_query(name, text) for name, text in ORACLE.items()}
