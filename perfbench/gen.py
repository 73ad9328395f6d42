"""Seeded fixture generator for the benchmark.

Writes the ten tables the registered queries read (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) with the
column names, types and value domains of the repository's TPC-H-ish test
data, at a chosen scale factor. Every value is a hash of (row, seed, column),
so one seed always gives byte-identical tables and another seed gives other
data of the same shape. Only the tables named in `seeded` take the caller's
seed, and they are written as four part files; the other tables use seed 0,
so their content is the same in every fixture.

A fixture is complete only when its `_SUCCESS` marker exists: it is built in
a temporary sibling directory and renamed into place before the marker is
written, so an interrupted run never leaves a directory that looks usable.
"""
import os
import shutil

import duckdb
import pyarrow.parquet as pq

# Bump when the generated data changes, so cached fixtures are rebuilt.
GEN_VERSION = 1

VOCAB = ("a agg batch big column customer data dup fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the value "
         "vector window").split()

# DuckDB column expressions over the row number `i`: _h is an unsigned 64-bit
# hash of (row, seed, salt), _u a uniform draw in [0, 1) and _pick a choice
# from a list.
def _h(seed, salt, row="i"):
    return f"hash({row}, {seed}, '{salt}')"


def _u(seed, salt):
    return f"({_h(seed, salt)} % 1000000) / 1000000.0"


def _pick(seed, salt, values):
    items = ", ".join("'" + v + "'" for v in values)
    return f"([{items}])[1 + ({_h(seed, salt)} % {len(values)})::BIGINT]"


def _sizes(sf):
    n = lambda base, floor=1: max(floor, int(round(base * sf)))
    return {
        "customer": n(150000), "supplier": n(10000), "part": n(200000),
        "orders": n(1500000), "lineitem": n(6000000), "events": n(1000000),
        "documents": n(50000, 500), "embeddings": n(20000, 500), "users": n(15000, 10),
    }


def _queries(sf, seed):
    z = _sizes(sf)
    u = lambda salt: _u(seed, salt)
    h = lambda salt: _h(seed, salt)
    pick = lambda salt, vs: _pick(seed, salt, vs)
    rng = lambda n: f"FROM range({n}) t(i)"
    words = ", ".join("'" + w + "'" for w in VOCAB)
    # near-duplicate documents: every 20th document copies an earlier one
    # with one word changed, every 500th copies one verbatim
    doc_words = (f"list_transform(range(10 + ({h('dlen')} % 91)::BIGINT), "
                 f"j -> ([{words}])[1 + (hash(i, j, {seed}, 'dw') % {len(VOCAB)})::BIGINT])")
    return {
        "region": "SELECT r_regionkey::INTEGER AS r_regionkey, r_name FROM (VALUES "
                  "(0, 'AFRICA'), (1, 'AMERICA'), (2, 'ASIA'), (3, 'EUROPE'), "
                  "(4, 'MIDDLE EAST')) v(r_regionkey, r_name)",
        "nation": f"SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name, "
                  f"(i % 5)::INTEGER AS n_regionkey {rng(25)}",
        "customer": f"""SELECT i::BIGINT AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
            ({h('cn')} % 25)::INTEGER AS c_nationkey,
            round(-999.99 + {u('cb')} * 10999.98, 2)::DOUBLE AS c_acctbal,
            {pick('cm', ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'])} AS c_mktsegment
            {rng(z['customer'])}""",
        "supplier": f"""SELECT i::BIGINT AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
            ({h('sn')} % 25)::INTEGER AS s_nationkey,
            round(-999.99 + {u('sb')} * 10999.98, 2)::DOUBLE AS s_acctbal
            {rng(z['supplier'])}""",
        "part": f"""SELECT i::BIGINT AS p_partkey,
            {pick('pa', ['blue', 'cold', 'hot', 'large', 'new', 'old', 'red', 'small'])} || ' ' ||
            {pick('pn', ['anvil', 'bolt', 'gear', 'gizmo', 'plate', 'ring', 'rod', 'widget'])} AS p_name,
            'Brand#' || (1 + {h('pb')} % 25) AS p_brand,
            {pick('pt', ['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL', 'STANDARD'])} AS p_type,
            (1 + {h('ps')} % 50)::INTEGER AS p_size,
            (900 + (i % 1000) / 10.0)::DOUBLE AS p_retailprice
            {rng(z['part'])}""",
        "orders": f"""SELECT i::BIGINT AS o_orderkey, ({h('oc')} % {z['customer']})::BIGINT AS o_custkey,
            {pick('os', ['F', 'O', 'P'])} AS o_orderstatus,
            round(1000 + {u('ot')} * 499000, 2)::DOUBLE AS o_totalprice,
            TIMESTAMP '1995-01-01' + to_days(({h('od')} % 2404)::INTEGER) AS o_orderdate,
            {pick('op', ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'])} AS o_orderpriority
            {rng(z['orders'])}""",
        "lineitem": f"""SELECT ({h('lo')} % {z['orders']})::BIGINT AS l_orderkey,
            ({h('lp')} % {z['part']})::BIGINT AS l_partkey,
            ({h('ls')} % {z['supplier']})::BIGINT AS l_suppkey,
            (1 + {h('ln')} % 7)::INTEGER AS l_linenumber,
            q AS l_quantity,
            round(q * (900 + {u('le')} * 1200), 2)::DOUBLE AS l_extendedprice,
            (({h('ld')} % 11) / 100.0)::DOUBLE AS l_discount,
            (({h('lt')} % 9) / 100.0)::DOUBLE AS l_tax,
            {pick('lr', ['A', 'N', 'R'])} AS l_returnflag,
            {pick('lst', ['F', 'O'])} AS l_linestatus,
            TIMESTAMP '1995-01-02' + to_days(({h('lsd')} % 2498)::INTEGER) AS l_shipdate
            FROM (SELECT i, (1 + {h('lq')} % 50)::DOUBLE AS q {rng(z['lineitem'])})""",
        "events": f"""SELECT i::BIGINT AS event_id,
            TIMESTAMP '2024-01-01' + to_microseconds(((i + {u('et')}) * {30 * 86400 * 10**6 // z['events']})::BIGINT) AS ts,
            ({h('eu')} % {z['users']})::BIGINT AS user_id,
            {pick('ey', ['click', 'error', 'purchase', 'signup', 'view'])} AS event_type,
            round(-50 * ln(1 - {u('ev')} * 0.999999), 2)::DOUBLE AS value,
            '{{"k": ' || ({h('ek')} % 100) || '}}' AS props
            {rng(z['events'])}""",
        "documents": f"""WITH base AS (
                SELECT i, {doc_words} AS w {rng(z['documents'])}),
            src AS (
                SELECT b.i, CASE
                    WHEN b.i % 500 = 499 THEN o.w
                    WHEN b.i % 20 = 19 THEN list_concat(o.w[1:len(o.w) - 1], [b.w[1]])
                    ELSE b.w END AS w
                FROM base b LEFT JOIN base o ON o.i = {_h(seed, 'dd', 'b.i')} % greatest(b.i, 1))
            SELECT i::BIGINT AS doc_id, array_to_string(w, ' ') AS text,
                {pick('dl', ['en', 'en', 'en', 'de', 'es', 'fr', 'zh'])} AS lang,
                'src' || ({h('dsrc')} % 20) AS source,
                length(array_to_string(w, ' '))::BIGINT AS n_chars
            FROM src""",
        "embeddings": f"""SELECT i::BIGINT AS vec_id,
                list_transform(v, x -> (x / sqrt(list_sum(list_transform(v, y -> y * y))))::FLOAT) AS embedding,
                label::INTEGER AS label
            FROM (SELECT i, label, list_transform(range(64), d ->
                    ((hash(label, d, {seed}, 'ec') % 2000) / 1000.0 - 1)
                    + 0.8 * ((hash(i, d, {seed}, 'en') % 2000) / 1000.0 - 1)) AS v
                FROM (SELECT i, {h('el')} % 10 AS label {rng(z['embeddings'])}))""",
    }


def _write(con, sql, path, parts):
    table = con.execute(f"SELECT * FROM ({sql}) ORDER BY ALL").arrow()
    if parts <= 1:
        pq.write_table(table, path)
        return
    os.makedirs(path)
    step = -(-table.num_rows // parts)
    for p in range(parts):
        pq.write_table(table.slice(p * step, step), os.path.join(path, f"part-{p:05d}.parquet"))


def generate(out_dir, sf, seed, seeded=()):
    """Build the fixture at `out_dir` unless a complete one is there.

    `seeded` names the tables generated from `seed`. Each is written as a
    directory of four part files; readers glob `<table>.parquet/*.parquet`."""
    if os.path.exists(os.path.join(out_dir, "_SUCCESS")):
        return out_dir
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET enable_progress_bar = false")
    fixed, varied = _queries(sf, 0), _queries(sf, seed)
    for name in fixed:
        sql = varied[name] if name in seeded else fixed[name]
        _write(con, sql, os.path.join(tmp, f"{name}.parquet"), 4 if name in seeded else 1)
    con.close()
    os.rename(tmp, out_dir)
    open(os.path.join(out_dir, "_SUCCESS"), "w").close()
    return out_dir
