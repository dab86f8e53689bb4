"""Checks the program's outputs against answers computed apart from it,
in DuckDB.

- `insights_lines` recomputes the insight lines of the Play-Store job from
  the raw CSV, one GROUP BY per grouping set, following the reference's
  rules.
- `Oracle.matches` evaluates a declared query's oracle SQL on the same
  parquet tables and compares it with the program's rows: columns by name,
  rows sorted, and the dtype class of every column strict (an int64 10077
  and a float64 10077.0 differ).
"""
import csv
import glob
import itertools
import math
import os

import duckdb

# the reference's configuration (main.py:57-120), restated here so that the
# check does not read it from the program
GROUPING = ["developerId", "free", "genreId", "minInstalls", "offersIAP",
            "originalPrice", "price", "ratings", "len screenshots",
            "adSupported", "containsAds", "reviews", "score", "releasedYear"]
BUCKETS = {"minInstalls": 1000000, "originalPrice": 100, "price": 100,
           "ratings": 1000000, "len screenshots": 5, "reviews": 1000000,
           "score": 1, "releasedYear": 5}
ID_VALUES = {"developerId": ["developer", "developerWebsite"],
             "genreId": ["genre"]}
INT_COLS = ["minInstalls", "originalPrice", "price", "ratings",
            "len screenshots", "reviews", "score", "releasedYear"]
CSV_TYPES = {"_c0": "BIGINT", "appId": "VARCHAR", "developer": "VARCHAR",
             "developerId": "VARCHAR", "developerWebsite": "VARCHAR",
             "free": "BOOLEAN", "genre": "VARCHAR", "genreId": "VARCHAR",
             "minInstalls": "BIGINT", "offersIAP": "BOOLEAN",
             "originalPrice": "DOUBLE", "price": "DOUBLE", "ratings": "BIGINT",
             "len screenshots": "BIGINT", "adSupported": "BOOLEAN",
             "containsAds": "BOOLEAN", "reviews": "BIGINT", "score": "DOUBLE",
             "releasedYear": "BIGINT"}


def q(c):
    return '"' + c + '"'


def insights_lines(csv_path, k):
    """The expected insight lines and the threshold they were cut at."""
    con = duckdb.connect()
    cols = ", ".join(f"'{c}': '{t}'" for c, t in CSV_TYPES.items())
    con.execute(f"""CREATE TABLE raw AS SELECT * FROM read_csv('{csv_path}',
        header = true, auto_detect = false, nullstr = '', columns = {{{cols}}})""")
    # int casts truncate toward zero, as Spark's do (DuckDB's CAST rounds)
    sel = ", ".join(
        f"CAST(trunc({q(c)}) AS INTEGER) AS {q(c)}" if c in INT_COLS else q(c)
        for c in CSV_TYPES)
    con.execute(f"""CREATE TABLE clean AS SELECT {sel} FROM raw
        WHERE ratings BETWEEN 0 AND 100 AND releasedYear BETWEEN 1971 AND 2023""")
    n = con.execute("SELECT count(*) FROM clean").fetchone()[0]
    threshold = math.floor(2.0 / 100.0 * n)
    cols = GROUPING[:k]
    for idc, vals in ID_VALUES.items():
        mins = ", ".join(f"min({q(v)}) AS {q(v)}" for v in vals)
        con.execute(f"CREATE TABLE dict_{idc} AS SELECT {q(idc)}, {mins} FROM clean "
                    f"WHERE {q(idc)} IS NOT NULL GROUP BY 1")

    def key(c):
        if c in BUCKETS:
            w = BUCKETS[c]
            b = f"CAST(floor(CAST({q(c)} AS DOUBLE) / {w}) AS BIGINT) * {w}"
            return f"{b} AS {q(c)}"
        return q(c)

    def term(c):
        if c in BUCKETS:
            return (f"'{c}=[' || CAST(g.{q(c)} AS VARCHAR) || '-' || "
                    f"CAST(g.{q(c)} + {BUCKETS[c]} AS VARCHAR) || ']'")
        return f"'{c}=' || CAST(g.{q(c)} AS VARCHAR)"

    parts = []
    for r in range(1, k + 1):
        for subset in itertools.combinations(cols, r):
            keys = [c for c in subset if c not in ID_VALUES]
            ids = [c for c in subset if c in ID_VALUES]
            terms = [term(c) for c in keys]
            joins = ""
            for idc in ids:
                joins += f" LEFT JOIN dict_{idc} d_{idc} USING ({q(idc)})"
                terms += [f"'{v}=' || CAST(d_{idc}.{q(v)} AS VARCHAR)"
                          for v in ID_VALUES[idc]]
            terms.append("CAST(g.n AS VARCHAR)")
            notnull = " AND ".join(f"{q(c)} IS NOT NULL" for c in subset)
            parts.append(
                f"SELECT concat_ws(';', {', '.join(terms)}) AS line FROM "
                f"(SELECT {', '.join(key(c) for c in subset)}, count(*) AS n "
                f"FROM clean WHERE {notnull} GROUP BY ALL HAVING count(*) >= "
                f"{threshold}) g{joins}")
    lines = [r[0] for r in con.execute(" UNION ALL ".join(parts)).fetchall()]
    con.close()
    return lines, threshold


def read_lines(out_dir):
    """The program's insight lines, one CSV column per file line."""
    lines = []
    for f in sorted(glob.glob(os.path.join(out_dir, "part-*"))):
        with open(f, newline="") as fh:
            lines += [row[0] for row in csv.reader(fh) if row]
    return lines


def insights_ok(got, expected, threshold):
    """Set equality plus properties the method must have."""
    if len(got) != len(set(got)) or set(got) != set(expected):
        return False
    for line in got:
        *terms, count = line.split(";")
        if not terms or not all("=" in t for t in terms):
            return False
        if int(count) < threshold:
            return False
    return True


TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
CLASSES = {"i": "int", "u": "int", "f": "float", "b": "bool", "M": "ts",
           "O": "obj"}


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def same(a, b):
    """Columns by name, rows sorted, strict dtype class per column."""
    a, b = canon(a), canon(b)
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    for c in a.columns:
        x, y = a[c], b[c]
        if CLASSES.get(x.dtype.kind, x.dtype.kind) != CLASSES.get(y.dtype.kind, y.dtype.kind):
            return False
        try:
            eq = (x.isna() & y.isna()) | (x == y)
        except Exception:
            eq = x.astype(str) == y.astype(str)
        if not eq.all():
            return False
    return True


class Oracle:
    """DuckDB over the tables the program read."""

    def __init__(self, data_dir):
        self.con = duckdb.connect()
        for t in TABLES:
            p = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    def matches(self, sql, rows_dir):
        """True iff the program's rows in `rows_dir` equal the oracle's."""
        try:
            got = self.con.execute(
                f"SELECT * FROM read_parquet('{rows_dir}/*.parquet')").df()
            return same(got, self.con.execute(sql).df())
        except Exception:
            return False
