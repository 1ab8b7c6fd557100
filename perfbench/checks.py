"""Correctness checks of the benchmark's outputs.

Catalog ops are replayed against their DuckDB oracle SQL
(`SparkEntry.oracleSql`, passed in by the harness); MapleJuice outputs are
compared with the answers `inputs.py` computed independently; the
streaming check (emitted ids == first occurrences) runs inside the
harness, next to the generator it has to replay.
"""
import glob
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 9)  # absorb last-ulp noise only
            vals.append(repr(v))
        out.append(tuple(vals))
    return [cols[i] for i in order], sorted(out)


def catalog(data_dir, out_dir, oracles, names):
    """{op name: error or None} for the outputs of `names` under
    `out_dir` (`name@sql` twins are checked against the same oracle)."""
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, t + ".parquet")
        if os.path.exists(path):
            con.execute("CREATE VIEW %s AS SELECT * FROM '%s'" % (t, path))
    result = {}
    for name in names:
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        sql = oracles.get(name.split("@")[0])
        try:
            if not files:
                raise RuntimeError("no output written")
            got = con.execute("SELECT * FROM read_parquet(?)", [files])
            gcols = [d[0] for d in got.description]
            grows = got.fetchall()
            if sql is None:
                result[name] = None if grows else "no rows and no oracle"
                continue
            exp = con.execute(sql)
            ecols = [d[0] for d in exp.description]
            erows = exp.fetchall()
        except Exception as e:  # noqa: BLE001 - any failure is a wrong answer
            result[name] = "%s: %s" % (type(e).__name__, e)
            continue
        gc, gr = _canon(gcols, grows)
        ec, er = _canon(ecols, erows)
        if gc != ec:
            result[name] = "columns %s != %s" % (gc, ec)
        elif gr != er:
            result[name] = "%d rows vs %d expected, first difference %s" % (
                len(gr), len(er), next(((a, b) for a, b in zip(gr, er) if a != b), None))
        else:
            result[name] = None
    return result


def _lines(out_dir, name):
    lines = []
    for path in sorted(glob.glob(os.path.join(out_dir, name, "part-*"))):
        with open(path) as f:
            lines.extend(line.rstrip("\n") for line in f if line.strip())
    return sorted(lines)


def maplejuice(out_dir, expected):
    """{op name: error or None} for the MapleJuice outputs."""
    want = {"condorcet_p1": expected["condorcet_p1"],
            "condorcet_p2": expected["condorcet_p2"],
            "wordcount_hash": expected["wordcount"],
            "wordcount_range": expected["wordcount"]}
    result = {}
    for name, exp in want.items():
        got = _lines(out_dir, name)
        if got == sorted(exp):
            result[name] = None
        else:
            diff = sorted(set(got) ^ set(exp))[:3]
            result[name] = "%d lines vs %d expected, e.g. %s" % (len(got), len(exp), diff)
    return result
