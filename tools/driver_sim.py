#!/usr/bin/env python
"""Simulate the DRIVER's verify pass exactly (the /verify recipe, committed).

Differences from tools/gate_sim.py (which uses the engine's own session and
oracle helper): this script reproduces the driver's hostile conditions —

* runs from a NEUTRAL cwd (chdir to /tmp) so cwd-relative imports can't
  mask path bugs and workers import the package only from the archive
  the registry ships,
* imports ``__spark_entry__`` the way the driver does,
* builds a PLAIN SparkSession (local[8], UTC, UI off) — not
  flinkexp_spark.session.get_session — so engine-session-only configs
  can't be load-bearing,
* optionally sets a non-UTC host TZ for the DuckDB side (--tz).

Usage:
  python tools/driver_sim.py [--only q1,q2] [--sf-dir DIR] [--tz America/New_York]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon(df):
    df = df.copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype(str)
    df = df[sorted(df.columns)]
    return df.sort_values(list(df.columns)).reset_index(drop=True).astype(str)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    ap.add_argument("--tz", default=None, help="DuckDB connection TimeZone")
    ap.add_argument(
        "--driver-mem",
        default=None,
        help="spark.driver.memory for the plain session (the 1g default "
        "OOMs at sf1 — the r10 sweep used 32g)",
    )
    ap.add_argument(
        "--timeout",
        type=float,
        default=0,
        help="per-query watchdog seconds (0 = off): on expiry Spark jobs "
        "are cancelled and the DuckDB query interrupted, the query is "
        "recorded as err='timeout' and the sweep continues — the loud "
        "exclusion mechanism for deliberately-quadratic oracles at sf1",
    )
    ap.add_argument(
        "--engine-hash",
        default=None,
        help="comma list of queries verified via ENGINE-SIDE multiset "
        "hashing (each engine computes an order-insensitive sum of 60-bit "
        "per-row md5 hashes over a canonical rendering and returns ONE "
        "row) instead of collecting both result sets to the driver — for "
        "outputs that exceed spark.driver.maxResultSize at sf1.  The same "
        "path also engages automatically when a collect trips "
        "maxResultSize.  Row count and column-name fingerprint are still "
        "checked; the hash covers every value",
    )
    ap.add_argument(
        "--artifact",
        default=None,
        help="write a CORRECTNESS_FULL.json-style artifact (driver row "
        "schema: rows/schema/hash_match, spark/oracle_rows, err) here",
    )
    ap.add_argument(
        "--duck-mem",
        default=None,
        help="DuckDB memory_limit for the oracle connection (e.g. 48GB). "
        "Set it on sf1 sweeps so a quadratic oracle OOMs INSIDE DuckDB "
        "(recorded err row) instead of drawing the kernel OOM killer",
    )
    ap.add_argument(
        "--exclude",
        default=None,
        help="comma list of queries to record as EXCLUDED without running "
        "(err row, loud): for deliberate sf-scale exclusions whose stand-in "
        "twin runs green in the same sweep — the curated justification "
        "lives in tools/make_sf1_artifact.py EXCLUSION_REASONS, which "
        "refuses any exclusion it does not document",
    )
    ap.add_argument(
        "--merge-into",
        action="store_true",
        help="with --artifact and --only: load the existing artifact and "
        "REPLACE only the rows this invocation ran — the retry path for "
        "individual contention-timeout rows of a long sweep (record the "
        "merge in the frozen artifact's provenance note)",
    )
    args = ap.parse_args()

    os.chdir("/tmp")
    sys.path.insert(0, REPO)
    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as e

    builder = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8")
    )
    if args.driver_mem:
        builder = builder.config("spark.driver.memory", args.driver_mem)
    spark = builder.getOrCreate()
    n_entry = len(e.entry(spark).collect())
    print(f"entry(): {n_entry} rows")

    con = duckdb.connect()
    # Spill hygiene (r13 verdict #8): ALWAYS pin the oracle's spill to a
    # dedicated directory (an in-memory duckdb otherwise spills to
    # cwd-relative `.tmp` — the r13 sweep left ~34 GB of
    # duckdb_temp_storage-*.tmp under /root/repo/.tmp), clean it after
    # every query, and assert headroom up front.
    spill_dir = "/tmp/duckdb_spill_driver_sim"
    os.makedirs(spill_dir, exist_ok=True)
    con.execute(f"SET temp_directory='{spill_dir}'")

    def _clean_spill() -> None:
        import glob
        import shutil as _sh

        for p in glob.glob(os.path.join(spill_dir, "*")):
            try:
                (_sh.rmtree if os.path.isdir(p) else os.remove)(p)
            except OSError:
                pass

    _clean_spill()
    import shutil as _shutil

    free_gb = _shutil.disk_usage(spill_dir).free / 2**30
    if args.duck_mem:
        # require headroom >= the memory budget before a multi-hour sweep:
        # the worst observed spill (r13 recall-graph oracle) was 34 GB
        # under a 48 GB budget, and per-query cleaning keeps it bounded
        need_gb = float(args.duck_mem.rstrip("GBgb") or 0)
        if free_gb < need_gb:
            print(
                f"ABORT: {free_gb:.0f} GB free under {spill_dir}, "
                f"need >= {need_gb:.0f} GB (2x --duck-mem) before a sweep"
            )
            return 2
    print(f"spill dir {spill_dir} ({free_gb:.0f} GB free)")
    if args.duck_mem:
        # Cap the oracle engine BELOW the host OOM line: an over-budget
        # brute-force oracle must surface as a recorded DuckDB
        # OutOfMemoryException row, not a kernel OOM-kill that takes the
        # whole sweep (and every completed row) with it — the r11 sf1
        # sweep died exactly that way at 116 GiB anon RSS.
        con.execute(f"SET memory_limit='{args.duck_mem}'")
    if args.tz:
        con.execute(f"SET TimeZone='{args.tz}'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{args.sf_dir}/{t}.parquet')"
        )

    qs, osql = e.queries(), e.oracle_sql()
    names = args.only.split(",") if args.only else list(qs)
    t0, n_ok = time.time(), 0
    failures: list[str] = []
    records: dict[str, dict] = {}
    eh_names = set(filter(None, (args.engine_hash or "").split(",")))

    from pyspark.sql import functions as F

    def _spark_multiset_hash(df):
        """(sum-of-row-hashes, count) computed INSIDE Spark — one row back.

        Canonical rendering per column (sorted by name): ints/bools/dates
        as plain string casts, floats/decimals as round(x*1e6) BIGINTs
        (all float-producing queries round to <=6 decimals), timestamps at
        millisecond precision, NULL as a \\x01-sentinel.  Row hash = first
        15 hex chars of md5 (60 bits) as DECIMAL(38,0); SUM is
        order-insensitive and multiset-exact (duplicates accumulate,
        unlike xor).  Mirrored byte-for-byte by _duck_multiset_hash."""
        types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        exprs = []
        for c in sorted(df.columns):
            t, col = types[c], F.col(c)
            if t in ("tinyint", "smallint", "int", "bigint", "boolean"):
                r = col.cast("string")
            elif t == "string":
                r = col
            elif t in ("float", "double") or t.startswith("decimal"):
                r = (
                    F.round(col.cast("double") * 1000000, 0)
                    .cast("bigint")
                    .cast("string")
                )
            elif t == "date":
                r = col.cast("string")
            elif t == "timestamp":
                r = F.date_format(col, "yyyy-MM-dd HH:mm:ss.SSS")
            else:
                raise ValueError(f"engine-hash: unsupported Spark type {t}")
            exprs.append(F.coalesce(r, F.lit("\x01N")))
        h = (
            F.conv(F.substring(F.md5(F.concat_ws("\x1f", *exprs)), 1, 15), 16, 10)
            .cast("decimal(38,0)")
            .alias("h")
        )
        row = df.select(h).agg(
            F.coalesce(F.sum("h"), F.lit(0)).alias("hs"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        return int(row["hs"]), int(row["n"])

    def _duck_multiset_hash(osql_text, o_types):
        rends = []
        for c in sorted(o_types):
            t, q = o_types[c].lower(), f'"{c}"'
            if t in (
                "tinyint", "smallint", "integer", "bigint", "hugeint",
                "boolean", "utinyint", "usmallint", "uinteger", "ubigint",
            ):
                r = f"CAST({q} AS VARCHAR)"
            elif t == "varchar":
                r = q
            elif t in ("double", "float", "real") or t.startswith("decimal"):
                r = (
                    f"CAST(CAST(ROUND(CAST({q} AS DOUBLE) * 1000000, 0) "
                    f"AS BIGINT) AS VARCHAR)"
                )
            elif t == "date":
                r = f"CAST({q} AS VARCHAR)"
            elif t.startswith("timestamp"):
                r = f"strftime({q}, '%Y-%m-%d %H:%M:%S.%g')"
            else:
                raise ValueError(f"engine-hash: unsupported DuckDB type {t}")
            rends.append(f"coalesce({r}, chr(1)||'N')")
        row = con.execute(
            f"""
            SELECT coalesce(SUM(CAST(CAST(('0x' || substr(md5(rowstr), 1, 15))
                       AS BIGINT) AS HUGEINT)), 0) AS hs,
                   COUNT(*) AS n
            FROM (SELECT concat_ws(chr(31), {', '.join(rends)}) AS rowstr
                  FROM ({osql_text}))
            """
        ).fetchone()
        return int(row[0]), int(row[1])

    def _engine_compare(rec, df, osql_text):
        """Fill rec via engine-side hashing: the driver receives ONE row
        per engine (hash sum + count), never the result set."""
        rec["engine_hashed"] = True
        o_desc = con.execute(
            f"DESCRIBE SELECT * FROM ({osql_text}) LIMIT 0"
        ).fetchall()
        o_types = {r[0]: r[1] for r in o_desc}
        rec["schema_match"] = sorted(df.columns) == sorted(o_types)
        if not rec["schema_match"]:
            rec["err"] = (
                f"schema: spark={sorted(df.columns)} oracle={sorted(o_types)}"
            )
            return False
        s_hash, s_n = _spark_multiset_hash(df)
        o_hash, o_n = _duck_multiset_hash(osql_text, o_types)
        rec["spark_rows"], rec["oracle_rows"] = s_n, o_n
        rec["rows_match"] = s_n == o_n
        rec["hash_match"] = rec["rows_match"] and s_hash == o_hash
        return rec["hash_match"]

    import threading

    class _Watchdog:
        """Cancel the query's own Spark job group + interrupt DuckDB if a
        query overruns.

        Round-11 ADVICE hardening: the timer fires asynchronously, so a
        fire landing exactly as the protected block exits used to cancel
        the NEXT query's work and misattribute the timeout.  Two fixes:
        (a) _fire and __exit__ synchronize on a lock with a disarmed flag
        set before the block returns, so a late fire is a no-op; (b) the
        cancellation is scoped to this query's job group
        (setJobGroup/cancelJobGroup), never cancelAllJobs."""

        def __init__(self, seconds: float, group: str):
            self.seconds = seconds
            self.group = group
            self.fired = False
            self._armed = False
            self._lock = threading.Lock()
            self._timer = None

        def _fire(self):
            with self._lock:
                if not self._armed:
                    return
                self.fired = True
                try:
                    spark.sparkContext.cancelJobGroup(self.group)
                except Exception:
                    pass
                try:
                    con.interrupt()
                except Exception:
                    pass

        def __enter__(self):
            if self.seconds:
                spark.sparkContext.setJobGroup(
                    self.group, self.group, interruptOnCancel=True
                )
                self._armed = True
                self._timer = threading.Timer(self.seconds, self._fire)
                self._timer.daemon = True
                self._timer.start()
            return self

        def __exit__(self, *exc):
            with self._lock:
                self._armed = False
            if self._timer:
                self._timer.cancel()

    excluded = set(filter(None, (args.exclude or "").split(",")))

    for i, name in enumerate(names, 1):
        rec = {
            "oracle": True,
            "rows_match": False,
            "schema_match": False,
            "hash_match": False,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        if name in excluded:
            rec["err"] = (
                "excluded by sweep invocation (--exclude): deliberate "
                "sf-scale exclusion — curated justification required in "
                "tools/make_sf1_artifact.py EXCLUSION_REASONS"
            )
            rec["secs"] = 0.0
            records[name] = rec
            failures.append(f"{name}: EXCLUDED (--exclude)")
            print(f"-> [{i}/{len(names)}] {name}: excluded", flush=True)
            continue
        q_t0 = time.time()
        print(f"-> [{i}/{len(names)}] {name}", flush=True)
        try:
          with _Watchdog(args.timeout, name) as wd:
            df = qs[name](spark, args.sf_dir)
            if name in eh_names and name in osql:
                ok = _engine_compare(rec, df, osql[name])
                rec["secs"] = round(time.time() - q_t0, 2)
                records[name] = rec
                if ok:
                    n_ok += 1
                    print(f"[{i}/{len(names)}] {name}: ok (engine-hash)")
                else:
                    failures.append(f"{name}: mismatch (engine-hash)")
                    print(f"[{i}/{len(names)}] {name}: FAIL (engine-hash)")
                _clean_spill()
                continue
            try:
                s = canon(df.toPandas())
            except Exception as ex:
                # a result too big to collect is a harness limit, not an
                # engine failure — fall back to engine-side hashing
                if (
                    "maxResultSize" not in str(ex)
                    and "serialized results" not in str(ex)
                ) or name not in osql:
                    raise
                print(f"[{i}/{len(names)}] {name}: maxResultSize — "
                      "retrying via engine-hash")
                ok = _engine_compare(rec, df, osql[name])
                rec["secs"] = round(time.time() - q_t0, 2)
                records[name] = rec
                if ok:
                    n_ok += 1
                else:
                    failures.append(f"{name}: mismatch (engine-hash)")
                    print(f"[{i}/{len(names)}] {name}: FAIL (engine-hash)")
                _clean_spill()
                continue
            rec["spark_rows"] = len(s)
            if name not in osql:
                # Rows-only query (no DuckDB oracle): the driver records a
                # weaker ran-and-produced-rows check.  Mark it explicitly
                # instead of faking green match flags (ADVICE r08) so an
                # artifact consumer cannot overcount oracle-verified rows.
                print(f"[{i}/{len(names)}] {name}: rows-only ({len(s)})")
                rec.update(
                    oracle=False,
                    rows_match=True,
                    schema_match=None,
                    hash_match=None,
                    oracle_rows=None,
                    err=None,
                )
                records[name] = rec
                n_ok += 1
                _clean_spill()
                continue
            o = canon(con.execute(osql[name]).df())
            rec["oracle_rows"] = len(o)
            rec["rows_match"] = len(s) == len(o)
            rec["schema_match"] = list(s.columns) == list(o.columns)
            rec["hash_match"] = (
                rec["rows_match"] and rec["schema_match"] and s.equals(o)
            )
            ok = rec["hash_match"]
        except Exception as ex:  # noqa: BLE001
            ok = False
            if args.timeout and wd.fired:
                rec["err"] = f"timeout: cancelled after {args.timeout:.0f}s"
                failures.append(f"{name}: TIMEOUT {args.timeout:.0f}s")
            else:
                rec["err"] = f"{type(ex).__name__}: {ex}"[:500]
                failures.append(f"{name}: ERR {type(ex).__name__}: {ex}")
        rec["secs"] = round(time.time() - q_t0, 2)
        records[name] = rec
        _clean_spill()  # per-query: a spilled oracle must not leak disk
        if ok:
            n_ok += 1
        else:
            if not failures or not failures[-1].startswith(name):
                failures.append(f"{name}: mismatch")
            print(f"[{i}/{len(names)}] {name}: FAIL", flush=True)
        if i % 25 == 0:
            print(f"[{i}/{len(names)}] {n_ok} ok, {time.time()-t0:.0f}s", flush=True)
        if args.artifact:
            # flush after EVERY query: a multi-hour sweep that dies (kernel
            # OOM, host reboot) must not lose its completed rows — the
            # survivors re-enter via --only + --merge-into
            import json

            with open(args.artifact + ".partial", "w") as fh:
                json.dump(records, fh, indent=1, sort_keys=False)
    print(f"DONE {n_ok}/{len(names)} ok in {time.time()-t0:.0f}s")
    for f in failures:
        print("  " + f[:300])
    if args.artifact:
        import json

        if args.merge_into:
            # retry path: update ONLY the rows this invocation ran inside
            # an existing raw sweep artifact (contention-timeout retries of
            # individual queries; the provenance note in the frozen
            # artifact must say which rows were merged and why)
            with open(args.artifact) as fh:
                merged = json.load(fh)
            merged.update(records)
            records = merged
        with open(args.artifact, "w") as fh:
            json.dump(records, fh, indent=1, sort_keys=False)
            fh.write("\n")
        print(f"wrote {args.artifact} ({len(records)} rows)")
    return 0 if n_ok == len(names) else 1


if __name__ == "__main__":
    sys.exit(main())
