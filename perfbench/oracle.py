#!/usr/bin/env python3
"""Compute perfbench/expected.json: the outputs the benchmark checks.

Run from the root of a checkout:

    python3 perfbench/oracle.py

It has the benchmark write its generated inputs (and the curate report at
this commit) under .bench_build/, computes every `serve` aggregate and list
answer with DuckDB SQL over the same inputs, and stores their digests. The
benchmark compares each response's digest with these; a change to the
input generator changes the fingerprint and must re-run this script.
"""
import json
import hashlib
import math
import pathlib
import subprocess
import sys

import duckdb

HERE = pathlib.Path(__file__).resolve().parent
OUT = HERE.parent / ".bench_build" / "perfbench" / "oracle"


def digest(lines):
    return hashlib.sha256("".join(l + "\n" for l in lines).encode()).hexdigest()[:16]


def main():
    subprocess.run([sys.executable, str(HERE / "run.py"), "--dump", str(OUT)], check=True)
    gen = json.loads((OUT / "generated.json").read_text())
    hour, now, max_age = gen["hour_ms"], gen["now_ms"], gen["list_max_age_ms"]
    con = duckdb.connect()
    # the events table as the engine's adapter reads it: ts in epoch ms
    con.execute("CREATE VIEW ev AS SELECT * REPLACE (epoch_ms(ts) AS ts) "
                f"FROM read_parquet('{OUT}/events.parquet/*.parquet')")
    agg, lst = {}, {}
    for t in gen["event_types"]:
        # /events/<t>{user=*} mean=1h aggregate=mean (1h buckets): per
        # series, the mean of each hour stamped with its last timestamp;
        # then per hour, the mean over series
        rows = con.execute(f"""
            WITH mg AS (
              SELECT user_id, max(ts) AS ots, avg(value) AS v FROM ev
              WHERE event_type = ? GROUP BY user_id, ts - ts % {hour})
            SELECT ots - ots % {hour} AS b, avg(v) AS m FROM mg GROUP BY b ORDER BY b
        """, [t]).fetchall()
        agg[t] = digest(f"{b},{math.floor(m * 1e6 + 0.5)}" for b, m in rows)
        # /list /events/<t>* over the last max_age before the server clock
        rows = con.execute(f"""
            SELECT DISTINCT '/events/' || event_type, CAST(user_id AS VARCHAR) FROM ev
            WHERE event_type = ? AND ts >= {now - max_age}
        """, [t]).fetchall()
        lst[t] = digest(sorted(f"{n}|{u}" for n, u in rows))
    expected = {"fingerprint": gen["fingerprint"], "agg": agg, "list": lst,
                "curate_report": gen["curate_report"]}
    (HERE / "expected.json").write_text(json.dumps(expected, indent=2) + "\n")
    print(json.dumps(expected, indent=2))


if __name__ == "__main__":
    main()
