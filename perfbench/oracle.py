"""Correctness checks for one benchmark iteration, independent of graft.

Expected values come from the generator's planted truth (`expected` in the
input manifest); actual values are read back from the iteration's outputs
with DuckDB. A failed check marks the iteration failed.
"""

import os

import duckdb

from gen import HASH_COLUMNS, HASH_MOD

XCOM_KEYS = ("event_count", "empty_count", "non_empty_count", "error_count", "written_to_db_count")


def _canonical(column):
    if column == "kafka_timestamp":
        value = "CAST(epoch_us(kafka_timestamp) AS VARCHAR)"
    else:
        value = f"CAST({column} AS VARCHAR)"
    return f"coalesce({value}, '\\N')"


def sink_stats(sink_dir):
    """(rows, rows with a NULL kafka_hash, order-independent content hash of
    the rows with a non-NULL kafka_hash). The hash is gen.row_hash summed
    mod 2^64."""
    row_text = "concat_ws(chr(31), " + ", ".join(_canonical(c) for c in HASH_COLUMNS) + ")"
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        n, nulls, h = con.execute(f"""
            SELECT count(*),
                   count(*) FILTER (WHERE kafka_hash IS NULL),
                   coalesce(sum(CAST(CAST('0x' || left(md5({row_text}), 16) AS UBIGINT) AS HUGEINT))
                            FILTER (WHERE kafka_hash IS NOT NULL), 0)
            FROM read_parquet('{sink_dir}/*.parquet', union_by_name = true)""").fetchone()
    finally:
        con.close()
    return n, nulls, int(h) % HASH_MOD


def check_etl(summary, expected, sink_dir):
    errors = []
    for k in XCOM_KEYS:
        if summary.get(k) != expected[k]:
            errors.append(f"{k}: got {summary.get(k)}, expected {expected[k]}")
    if summary.get("event_count") != summary.get("empty_count", 0) + summary.get("non_empty_count", 0):
        errors.append("event_count != empty_count + non_empty_count")
    n, nulls, h = sink_stats(sink_dir)
    if n != expected["sink_rows"]:
        errors.append(f"sink rows: got {n}, expected {expected['sink_rows']}")
    if nulls != expected["sink_null_key_rows"]:
        errors.append(f"sink NULL-key rows: got {nulls}, expected {expected['sink_null_key_rows']}")
    if str(h) != expected["sink_hash"]:
        errors.append(f"sink content hash: got {h}, expected {expected['sink_hash']}")
    return errors


def check_curate(stages, expected, out_dir):
    errors = []
    for k in ("input", "after_exact_dedup"):
        if stages.get(k) != expected[k]:
            errors.append(f"{k}: got {stages.get(k)}, expected {expected[k]}")
    for k in ("input", "after_filters", "after_exact_dedup", "after_near_dedup", "written"):
        if not stages.get(k, 0) > 0:
            errors.append(f"stage {k} kept no rows")
    corpus = os.path.join(out_dir, "corpus")
    con = duckdb.connect()
    try:
        n, distinct = con.execute(
            f"SELECT count(*), count(DISTINCT text) FROM read_parquet('{corpus}/**/*.parquet')").fetchone()
    finally:
        con.close()
    if n != stages.get("written"):
        errors.append(f"written corpus has {n} rows, report says {stages.get('written')}")
    if n != distinct:
        errors.append(f"written corpus holds {n - distinct} exact duplicates")
    return errors


def check(workload, iteration, manifest):
    """Errors found in one iteration's outputs (empty list = correct)."""
    if iteration.get("error") or iteration.get("summary") is None:
        return [f"iteration raised: {iteration.get('error')}"]
    expected = manifest["expected"]
    out = iteration["dir"]
    if workload == "curate_neardup":
        return check_curate(iteration["summary"], expected, os.path.join(out, "out"))
    return check_etl(iteration["summary"], expected, os.path.join(out, "sink"))
