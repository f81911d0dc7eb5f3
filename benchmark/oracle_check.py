#!/usr/bin/env python3
"""Check `expected_hashes.json` against the DuckDB oracle.

    python3 benchmark/oracle_check.py

Run from the repository root after one benchmark run has built
`benchmark/target/benchmark.jar`. Dumps the mix's oracle SQL
(`SparkEntry.oracleSql`) from the benchmark program, runs each statement in
DuckDB over `benchmark/data/sf0.01`, hashes the rows exactly as
`bench.ResultHash` does, and compares with the recorded hash. Exits 1 on any
mismatch.
"""

import decimal
import hashlib
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

import duckdb  # noqa: E402

_CTX = decimal.Context(prec=200, rounding=decimal.ROUND_HALF_EVEN)
_NINE = decimal.Decimal("1e-9")


def _number(d):
    q = d.quantize(_NINE, context=_CTX)
    return "0" if q.is_zero() else format(q.normalize(_CTX), "f")


def value(v):
    """Canonical text of one value; mirrors `ResultHash.value`."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if v != v:
            return "nan"
        if v in (float("inf"), float("-inf")):
            return "inf" if v > 0 else "-inf"
        return _number(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return _number(v)
    if isinstance(v, str):
        return v
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(value(x) for x in v.values()) + "}"
    import datetime
    if isinstance(v, datetime.datetime):
        epoch = datetime.datetime(1970, 1, 1, tzinfo=v.tzinfo)
        d = v - epoch
        return str((d.days * 86400 + d.seconds) * 1000000 + d.microseconds)
    if isinstance(v, datetime.date):
        return str((v - datetime.date(1970, 1, 1)).days)
    raise TypeError(f"no canonical form for {type(v)}")


def result_hash(names, rows):
    """`<16 hex digits of the row-hash sum>:<row count>`, as ResultHash.of."""
    order = sorted(range(len(names)), key=lambda i: names[i])
    total = 0
    for r in rows:
        text = "\x01".join(f"{names[i]}={value(r[i])}" for i in order)
        total += int.from_bytes(hashlib.md5(text.encode()).digest()[:8], "big",
                                signed=True)
    return f"{total % (1 << 64):016x}:{len(rows)}"


def main():
    root = os.getcwd()
    jar, _ = run.build(root)
    with tempfile.TemporaryDirectory(dir=os.path.join(HERE, "target")) as tmp:
        out = os.path.join(tmp, "oracle.json")
        subprocess.run(run.java_cmd(jar) + ["--dump-oracle", out], check=True,
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        with open(out) as fh:
            sql = json.load(fh)
    want = run.expected_hashes()
    con = duckdb.connect()
    con.execute("SET threads=2")
    for f in sorted(os.listdir(run.DATA)):
        t = f.removesuffix(".parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(run.DATA, f)}')")
    bad = 0
    for q in sorted(want):
        cur = con.execute(sql[q])
        got = result_hash([d[0] for d in cur.description], cur.fetchall())
        ok = got == want[q]
        bad += not ok
        print(f"{'OK  ' if ok else 'FAIL'} {q} oracle={got} expected={want[q]}")
    print(f"{len(want) - bad}/{len(want)} expected hashes match the oracle")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
