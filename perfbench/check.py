"""Output checks, run once per benchmark run outside the timed window."""

import hashlib
import json
import os

import duckdb


def check_compile(output_schemas, expected):
    """Compare each query's inferred output schema (the compiler's JSON,
    field order included) with the hand-written expectation. Returns
    {query id: error} for the queries that differ."""
    bad = {}
    for qid, got in output_schemas.items():
        want = expected.get(qid)
        try:
            same = want is not None and json.loads(got) == want and \
                list(json.loads(got)) == list(want)
        except json.JSONDecodeError:
            same = False
        if not same:
            bad[qid] = f"output schema {got} != expected {json.dumps(want)}"
    return bad


def check_oracle(check_dir, oracle_sql, data_dir, rows, cache_dir):
    """Compare each Spark row's parquet output with DuckDB running the row's
    oracle SQL over the same tables, by the rule of tools/oracle_check.py:
    the same column names, and the same multiset of rows once every value
    is rendered as text. Returns {row: error} for the rows that differ.

    The oracle's rendered rows are kept in `cache_dir` under a digest of
    the SQL and of the tables' digest file: the reference side of the
    compare is a pure function of both, and some oracle queries take tens
    of seconds. The Spark side is checked afresh on every run."""
    os.makedirs(cache_dir, exist_ok=True)
    with open(data_dir + ".sha256", "rb") as f:
        data_digest = f.read()
    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {os.cpu_count() or 1}")
        con.execute(f"SET temp_directory = '{_q(cache_dir, 'tmp')}'")
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{_q(data_dir, f)}')")
        bad = {}
        for row in rows:
            key = hashlib.sha256(data_digest + oracle_sql[row].encode()).hexdigest()
            try:
                bad_row = _compare(con, os.path.join(check_dir, row), oracle_sql[row],
                                   os.path.join(cache_dir, key + ".parquet"))
            except duckdb.Error as e:
                bad_row = f"{type(e).__name__}: {e}"
            if bad_row:
                bad[row] = bad_row
        return bad
    finally:
        con.close()


def _q(*parts):
    return os.path.join(*parts).replace("'", "''")


def _as_text(con, relation):
    """Every column cast to text, columns in name order."""
    cols = sorted(r[0] for r in con.execute(f"DESCRIBE {relation}").fetchall())
    return cols, ", ".join(f'CAST("{c}" AS VARCHAR) AS "{c}"' for c in cols)


def _compare(con, spark_dir, sql, cached):
    files = [os.path.join(spark_dir, f) for f in os.listdir(spark_dir) if f.endswith(".parquet")]
    if not files:
        return "no Spark output"
    if not os.path.exists(cached):
        con.execute(f"CREATE OR REPLACE TEMP VIEW oracle_raw AS {sql}")
        _, text = _as_text(con, "oracle_raw")
        con.execute(f"COPY (SELECT {text} FROM oracle_raw) TO '{_q(cached)}.tmp' (FORMAT parquet)")
        os.replace(cached + ".tmp", cached)
    con.execute(f"CREATE OR REPLACE TEMP VIEW spark_out AS SELECT * FROM read_parquet({files!r})")
    con.execute(f"CREATE OR REPLACE TEMP VIEW oracle_out AS SELECT * FROM read_parquet('{_q(cached)}')")
    scols, text = _as_text(con, "spark_out")
    ocols, _ = _as_text(con, "oracle_out")
    if scols != ocols:
        return f"columns {scols} != oracle {ocols}"
    cols = ", ".join(f'"{c}"' for c in ocols)
    n_s, n_o, diff = con.execute(
        f"""SELECT (SELECT count(*) FROM spark_out), (SELECT count(*) FROM oracle_out),
                   (SELECT count(*) FROM ((SELECT {text} FROM spark_out EXCEPT ALL
                                           SELECT {cols} FROM oracle_out)
                                          UNION ALL
                                          (SELECT {cols} FROM oracle_out EXCEPT ALL
                                           SELECT {text} FROM spark_out)))""").fetchone()
    if n_s != n_o or diff:
        return f"{n_s} rows vs oracle {n_o}, {diff} differ"
    return None
