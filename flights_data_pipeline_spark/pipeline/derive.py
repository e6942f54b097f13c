"""Flights staging tables DERIVED from the driver's parquet tables.

The end-to-end flights pipeline (SURVEY.md §7.1 M3; reference
``dags/flights_data_pipeline.py`` extract→land→upsert→transform) was
previously exercised only on self-generated fixtures the acceptance
oracle cannot see, so its three registry queries were rows-only. This
module removes that blind spot: the 8 staging tables are a pure,
cross-engine-exact function of the driver's own parquet tables
(``orders``, ``customer``, ``lineitem``, ``nation``, ``part``), written
once in dialect-parameterized SQL and rendered for BOTH engines:

* Spark renders against temp views over ``io.catalog.load_table`` (the
  session-memoized scans, so a warm build infers no footer) and feeds
  the REAL pipeline (CSV landing, day-window upsert, transforms).
  :func:`spark_dialect` renders the same text against
  ``parquet.`<sf_dir>/<table>.parquet``` scans, for standalone SQL.
* DuckDB renders the same text as a WITH-chain the driver's oracle can
  evaluate directly against its registered views.

Cross-engine exactness rules (STATUS.md hard-won rules 1/2/14/24/28/29):
no float→decimal casts (money is integer cents rendered to a decimal
via string concat), no ``rand()`` (md5-bucket sampling), timestamps are
integer-second offsets from a literal base (both engines produce the
identical wall-clock value under the UTC-pinned session), and integer
division is dialect-spelled (Spark ``div`` vs DuckDB ``//``).
"""

from __future__ import annotations

from dataclasses import dataclass

from ..io.catalog import load_table

#: incremental window the DERIVED pipeline runs over (3 days keeps the
#: per-day extract/land/upsert cycle count bounded; updated_at is
#: always derived into this window at second precision, so the closed
#: day-window extraction loses nothing).
DERIVE_DAYS = ["2025-06-10", "2025-06-11", "2025-06-12"]

_BASE_TS = "TIMESTAMP '2025-06-10 00:00:00'"
_CREATED = "TIMESTAMP '2025-06-01 00:00:00'"


@dataclass(frozen=True)
class Dialect:
    name: str
    str_t: str          # string type name for CAST
    div: str            # integer division operator
    base_fmt: str       # how a driver base table is referenced

    def base(self, table: str) -> str:
        return self.base_fmt.format(table=table)

    def q(self, ident: str) -> str:
        """Quote an identifier (Spark backticks, DuckDB double quotes)."""
        return f"`{ident}`" if self.name == "spark" else f'"{ident}"'

    def s(self, expr: str) -> str:
        """CAST to string."""
        return f"CAST({expr} AS {self.str_t})"

    def seq(self, lo: str, hi: str) -> str:
        """Select-list row generator over an inclusive integer range."""
        if self.name == "spark":
            return f"explode(sequence({lo}, {hi}))"
        return f"unnest(generate_series({lo}, {hi}))"

    def ts_add(self, base: str, seconds: str) -> str:
        if self.name == "spark":
            return f"timestampadd(SECOND, {seconds}, {base})"
        return f"({base} + to_seconds(CAST({seconds} AS BIGINT)))"

    def struct2(self, f1: str, e1: str, f2: str, e2: str) -> str:
        if self.name == "spark":
            return f"named_struct('{f1}', {e1}, '{f2}', {e2})"
        return f"struct_pack({f1} := {e1}, {f2} := {e2})"

    def hex0(self, expr: str) -> str:
        """Value of the FIRST hex digit of a hex string expr (0..15)."""
        pos = "instr" if self.name == "spark" else "strpos"
        return f"({pos}('0123456789abcdef', substr({expr}, 1, 1)) - 1)"

    def money(self, cents: str) -> str:
        """Integer cents → DECIMAL(18,2), exactly, via string render
        (never a float cast — STATUS.md rules 1/2/14)."""
        c = f"CAST({cents} AS BIGINT)"
        return (
            f"CAST({self.s(f'({c}) {self.div} 100')} || '.' || "
            f"lpad({self.s(f'({c}) % 100')}, 2, '0') AS DECIMAL(18,2))"
        )

    def upd(self, k: str) -> str:
        """Deterministic ``updated_at`` inside DERIVE_DAYS: day from
        ``k % 3``, second-of-day from an LCG (max 23:59:58 — never in
        the reference's sub-second blind spot)."""
        return self.ts_add(
            _BASE_TS, f"((({k}) % 3) * 86400 + (({k}) * 6151) % 86399)"
        )


SPARK_DIALECT_FMT = "parquet.`{sf_dir}/{{table}}.parquet`"
DUCK = Dialect(name="duck", str_t="VARCHAR", div="//", base_fmt="{table}")


#: the testdata tables the chain reads, registered by :func:`derive_staging`
#: as temp views named by ``_VIEWS``
BASE_TABLES = ("nation", "orders", "customer", "lineitem", "part")
_VIEWS = Dialect(
    name="spark", str_t="STRING", div="div", base_fmt="derive_src_{table}"
)


def spark_dialect(sf_dir: str) -> Dialect:
    return Dialect(
        name="spark",
        str_t="STRING",
        div="div",
        base_fmt=SPARK_DIALECT_FMT.format(sf_dir=sf_dir),
    )


def _chain(d: Dialect) -> list[tuple[str, str]]:
    """Ordered (name, SELECT-sql) pairs; later entries may reference
    earlier names. Names that collide with driver views are avoided
    (the staging tables' names don't overlap region..embeddings)."""
    s, seq, upd, money = d.s, d.seq, d.upd, d.money
    nation, orders, customer, lineitem, part = (
        d.base("nation"), d.base("orders"), d.base("customer"),
        d.base("lineitem"), d.base("part"),
    )

    ap_code = lambda e: f"'AP' || lpad({s(f'({e}) % 25')}, 2, '0')"  # noqa: E731
    ac_code = lambda e: f"'AC' || lpad({s(f'({e}) % 9')}, 2, '0')"  # noqa: E731

    chain: list[tuple[str, str]] = []

    # -- aircrafts: 9 rows off the first 9 nations --------------------
    chain.append((
        "aircrafts_data",
        f"""
        SELECT md5('ac|' || {s('n_nationkey')}) AS id,
               'AC' || lpad({s('n_nationkey')}, 2, '0') AS aircraft_code,
               '{{"en": "Model ' || n_name || '", "ru": "M-' ||
                   {s('n_nationkey')} || '"}}' AS model,
               CAST(1000 + n_nationkey * 700 AS INT) AS {d.q('range')},
               {_CREATED} AS created_at,
               {upd('n_nationkey')} AS updated_at
        FROM {nation} WHERE n_nationkey < 9
        """,
    ))

    # -- airports: one per nation (25) ---------------------------------
    chain.append((
        "airports_data",
        f"""
        SELECT md5('ap|' || {s('n_nationkey')}) AS id,
               'AP' || lpad({s('n_nationkey')}, 2, '0') AS airport_code,
               '{{"en": "' || n_name || ' International", "ru": "Intl-' ||
                   {s('n_nationkey')} || '"}}' AS airport_name,
               '{{"en": "' || n_name || ' City", "ru": "City-' ||
                   {s('n_nationkey')} || '"}}' AS city,
               {d.struct2('lon',
                          'CAST(n_nationkey * 137 - 1600 AS DOUBLE) / 10',
                          'lat',
                          'CAST(n_nationkey * 61 - 750 AS DOUBLE) / 10')}
                   AS coordinates,
               'UTC+' || {s('n_nationkey % 12')} AS timezone,
               {_CREATED} AS created_at,
               {upd('n_nationkey + 7')} AS updated_at
        FROM {nation}
        """,
    ))

    # -- seats: per-aircraft cabin grid (two explode levels: rows then
    #    letters — DuckDB zips multiple select-list unnests, so both
    #    engines use two CTE stages; STATUS.md rule 10) ----------------
    chain.append((
        "seat_rows",
        f"""
        SELECT n_nationkey AS nk,
               'AC' || lpad({s('n_nationkey')}, 2, '0') AS aircraft_code,
               {seq('1', '10 + n_nationkey * 2')} AS seat_row
        FROM {nation} WHERE n_nationkey < 9
        """,
    ))
    chain.append((
        "seat_cells",
        f"""
        SELECT nk, aircraft_code, seat_row, {seq('1', '6')} AS li
        FROM seat_rows
        """,
    ))
    chain.append((
        "seats",
        f"""
        SELECT md5('st|' || aircraft_code || '|' || {s('seat_row')} ||
                   substr('ABCDEF', li, 1)) AS id,
               aircraft_code,
               {s('seat_row')} || substr('ABCDEF', li, 1) AS seat_no,
               CASE WHEN seat_row <= 2 THEN 'Business'
                    WHEN seat_row <= 4 THEN 'Comfort'
                    ELSE 'Economy' END AS fare_conditions,
               {_CREATED} AS created_at,
               {upd('nk * 100 + seat_row')} AS updated_at
        FROM seat_cells WHERE li <= 4 + (nk % 3)
        """,
    ))

    # -- flights: one per part; all schedule/delay math is integer
    #    seconds off a literal base (cross-engine-exact timestamps) ----
    dep_sec = "((p_partkey % 7) * 86400 + (p_partkey * 7919) % 86400)"
    duration = "(1800 + (p_partkey * 4051) % 28800)"
    delay = "((p_partkey * 2713) % 7200 - 300)"
    arr_jit = "((p_partkey * 1033) % 1200 - 300)"
    status = (
        "CASE p_partkey % 10 WHEN 0 THEN 'Scheduled' WHEN 1 THEN 'On Time' "
        "WHEN 2 THEN 'Delayed' WHEN 3 THEN 'Cancelled' "
        "WHEN 4 THEN 'Departed' WHEN 5 THEN 'Departed' "
        "ELSE 'Arrived' END"
    )
    # arrival airport: (7p+13)%25 collides with p%25 only at p≡2 (mod
    # 25); shift those to (7p+14)%25, which never collides.
    arr_airport = (
        f"CASE WHEN p_partkey % 25 = 2 "
        f"THEN {ap_code('p_partkey * 7 + 14')} "
        f"ELSE {ap_code('p_partkey * 7 + 13')} END"
    )
    chain.append((
        "flights",
        f"""
        SELECT md5('fl|' || {s('p_partkey')}) AS id,
               CAST(p_partkey AS INT) AS flight_id,
               'PG' || lpad({s('p_partkey % 997')}, 4, '0') AS flight_no,
               {d.ts_add(_BASE_TS, dep_sec)} AS scheduled_departure,
               {d.ts_add(_BASE_TS, f'{dep_sec} + {duration}')} AS scheduled_arrival,
               {ap_code('p_partkey')} AS departure_airport,
               {arr_airport} AS arrival_airport,
               {status} AS status,
               {ac_code('p_partkey')} AS aircraft_code,
               CASE WHEN {status} IN ('Departed', 'Arrived')
                    THEN {d.ts_add(_BASE_TS, f'{dep_sec} + {delay}')}
                    ELSE CAST(NULL AS TIMESTAMP) END AS actual_departure,
               CASE WHEN {status} = 'Arrived'
                    THEN {d.ts_add(_BASE_TS, f'{dep_sec} + {duration} + {delay} + {arr_jit}')}
                    ELSE CAST(NULL AS TIMESTAMP) END AS actual_arrival,
               {_CREATED} AS created_at,
               {upd('p_partkey')} AS updated_at
        FROM {part}
        """,
    ))

    # -- orders kept for the booking domain: uniform 1/16 md5 bucket ---
    chain.append((
        "keep_orders",
        f"""
        SELECT * FROM (
          SELECT o_orderkey, o_custkey,
                 md5('ko|' || {s('o_orderkey')}) AS h
          FROM {orders}
        ) WHERE {d.hex0('h')} % 16 = 0
        """,
    ))

    # -- tickets: 1-2 per kept order, passenger keyed off the customer -
    tno = "CAST(3000000000000 + o_orderkey * 4 + t AS BIGINT)"
    pax = "(o_custkey * 2 + t % 2)"
    phone = f"'+7' || lpad({s(f'({pax} * 48271) % 10000000000')}, 10, '0')"
    email = f"'p' || {s(pax)} || '@example.com'"
    chain.append((
        "ticket_seq",
        f"""
        SELECT o_orderkey, o_custkey,
               {seq('1', '1 + o_orderkey % 2')} AS t
        FROM keep_orders
        """,
    ))
    chain.append((
        "tickets",
        f"""
        SELECT md5('tk|' || {s(tno)}) AS id,
               {s(tno)} AS ticket_no,
               upper(substr(md5('br|' || {s('o_orderkey')}), 1, 12)) AS book_ref,
               'P' || lpad({s(pax)}, 10, '0') AS passenger_id,
               upper(replace(c_name, '#', ' ')) AS passenger_name,
               CASE (o_orderkey * 3 + t) % 10
                 WHEN 0 THEN CAST(NULL AS {d.str_t})
                 WHEN 1 THEN '{{"phone": "' || {phone} || '"}}'
                 WHEN 2 THEN '{{"phone": "' || {phone} || '"}}'
                 WHEN 3 THEN '{{"phone": "' || {phone} || '"}}'
                 WHEN 4 THEN '{{"phone": "' || {phone} || '"}}'
                 ELSE '{{"phone": "' || {phone} || '", "email": "' ||
                      {email} || '"}}'
               END AS contact_data,
               {_CREATED} AS created_at,
               {upd('o_orderkey * 4 + t')} AS updated_at
        FROM ticket_seq
        JOIN {customer} ON o_custkey = c_custkey
        """,
    ))

    # -- ticket_flights: lineitems of kept orders; segment → the order's
    #    ticket via linenumber parity; (ticket_no, flight_id) deduped ---
    t_assign = "(1 + l_linenumber % (1 + o_orderkey % 2))"
    tno2 = f"CAST(3000000000000 + o_orderkey * 4 + {t_assign} AS BIGINT)"
    cents = "(3000 + (l_orderkey * 131 + l_partkey * 17 + l_linenumber * 7919) % 197000)"
    chain.append((
        "tf_base",
        f"""
        SELECT * FROM (
          SELECT o_orderkey,
                 {s(tno2)} AS ticket_no,
                 CAST(l_partkey AS INT) AS flight_id,
                 CASE l_linenumber % 3 WHEN 0 THEN 'Economy'
                      WHEN 1 THEN 'Comfort' ELSE 'Business' END
                   AS fare_conditions,
                 {cents} AS cents,
                 {upd('l_orderkey * 16 + l_linenumber')} AS updated_at,
                 row_number() OVER (
                   PARTITION BY o_orderkey, {t_assign}, l_partkey
                   ORDER BY l_linenumber) AS rn
          FROM {lineitem}
          JOIN keep_orders ON l_orderkey = o_orderkey
        ) WHERE rn = 1
        """,
    ))
    chain.append((
        "ticket_flights",
        f"""
        SELECT md5('tf|' || ticket_no || '|' || {s('flight_id')}) AS id,
               ticket_no, flight_id, fare_conditions,
               {money('cents')} AS amount,
               {_CREATED} AS created_at,
               updated_at
        FROM tf_base
        """,
    ))

    # -- bookings: one per kept order; total reconciles with segments --
    chain.append((
        "booking_totals",
        """
        SELECT o_orderkey, SUM(cents) AS sum_cents
        FROM tf_base GROUP BY o_orderkey
        """,
    ))
    chain.append((
        "bookings",
        f"""
        SELECT md5('bk|' || {s('k.o_orderkey')}) AS id,
               upper(substr(md5('br|' || {s('k.o_orderkey')}), 1, 12)) AS book_ref,
               {d.ts_add(_BASE_TS, '((k.o_orderkey % 7) * 86400 + (k.o_orderkey * 3571) % 86399)')} AS book_date,
               {money('COALESCE(bt.sum_cents, 0)')} AS total_amount,
               {_CREATED} AS created_at,
               {upd('k.o_orderkey')} AS updated_at
        FROM keep_orders k
        LEFT JOIN booking_totals bt ON k.o_orderkey = bt.o_orderkey
        """,
    ))

    # -- boarding passes: departed/arrived flights, 95% show-up, seats
    #    assigned in boarding order off the aircraft's ranked cabin; the
    #    inner join on seat_rank caps at capacity (overflow pax dropped,
    #    like the reference fixture's behavior) ------------------------
    chain.append((
        "seat_ranked",
        """
        SELECT aircraft_code, seat_no,
               row_number() OVER (PARTITION BY aircraft_code
                                  ORDER BY seat_no) AS seat_rank
        FROM seats
        """,
    ))
    chain.append((
        "bp_base",
        f"""
        SELECT tf.ticket_no, tf.flight_id, f.aircraft_code,
               row_number() OVER (PARTITION BY tf.flight_id
                                  ORDER BY tf.ticket_no) AS boarding_no
        FROM ticket_flights tf
        JOIN flights f ON tf.flight_id = f.flight_id
        WHERE f.status IN ('Departed', 'Arrived')
          AND (CAST(tf.ticket_no AS BIGINT) * 31 + tf.flight_id) % 20 < 19
        """,
    ))
    chain.append((
        "boarding_passes",
        f"""
        SELECT md5('bp|' || b.ticket_no || '|' || {s('b.flight_id')}) AS id,
               b.ticket_no, b.flight_id,
               CAST(b.boarding_no AS INT) AS boarding_no,
               sr.seat_no,
               {_CREATED} AS created_at,
               {upd('CAST(b.ticket_no AS BIGINT) + b.flight_id')} AS updated_at
        FROM bp_base b
        JOIN seat_ranked sr ON b.aircraft_code = sr.aircraft_code
                           AND sr.seat_rank = b.boarding_no
        """,
    ))
    return chain


#: the 8 staging tables (the rest of the chain entries are helpers).
STAGING_TABLES = [
    "aircrafts_data", "airports_data", "bookings", "tickets",
    "flights", "seats", "ticket_flights", "boarding_passes",
]


def table_sql(d: Dialect, table: str) -> str:
    """Standalone ``WITH ... SELECT * FROM <table>`` for one staging
    table, in the given dialect."""
    chain = _chain(d)
    names = [n for n, _ in chain]
    upto = names.index(table)
    ctes = ",\n".join(f"{n} AS ({sql})" for n, sql in chain[: upto + 1])
    return f"WITH {ctes}\nSELECT * FROM {table}"


def derive_cte_block(d: Dialect) -> str:
    """The full derivation as a CTE list (no SELECT) — prepend to a
    transform query whose FROM clauses use the staging table names."""
    return ",\n".join(f"{n} AS ({sql})" for n, sql in _chain(d))


def oracle_with(transform_sql: str) -> str:
    """Compose a DuckDB oracle: derivation CTEs + a transform statement
    (whose own leading WITH, if any, is merged into the chain)."""
    body = transform_sql.strip()
    if body.upper().startswith("WITH"):
        body = body[4:].lstrip()
        return f"WITH {derive_cte_block(DUCK)},\n{body}"
    return f"WITH {derive_cte_block(DUCK)}\n{body}"


def derive_staging(spark, sf_dir: str):
    """Render and run the Spark-side derivation; returns
    ``{table: DataFrame}`` for the 8 staging tables.

    Each chain step is analyzed ONCE and registered as a temp view the
    next step's FROM resolves against — the previous one-statement-per-
    table rendering re-inlined (and re-analyzed) the whole CTE prefix
    per table, making total analysis quadratic in chain length
    (measured 5-9 s of driver time at round 12). ``df.schema`` forces
    analysis inside the loop so every returned frame is resolved
    against THIS call's views before any later call could re-register
    them for another sf_dir."""
    for t in BASE_TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(_VIEWS.base(t))
    out = {}
    for name, sql in _chain(_VIEWS):
        df = spark.sql(sql)
        df.schema  # force analysis now (pin resolution, see docstring)
        df.createOrReplaceTempView(name)
        out[name] = df
    return {t: out[t] for t in STAGING_TABLES}
