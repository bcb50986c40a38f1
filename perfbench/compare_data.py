#!/usr/bin/env python3
"""Compares the benchmark's generated tables with a reference copy of the
tables graft's registry was written against, column by column.

    python3 perfbench/compare_data.py <generated_dir> <reference_dir>

For every table it compares the row count, and for every column its
type (exactly), the number of distinct values, the share of the most common value (skew),
min, max, mean, standard deviation and the 10/50/90 % quantiles (string
columns: of their length). For `documents.text` it also compares words
per document, vocabulary size, exact duplicate texts and planted
near-duplicates (texts ending in " dup"). A figure is flagged when it
differs by more than 3 % of the reference's range (counts: of the
reference count). Exits 1 if any figure is flagged.
"""
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
TOLERANCE = 0.03


def profile(con, d: str) -> dict:
    out = {}
    for t in TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
        out[(t, "", "rows")] = con.sql(f"SELECT count(*) FROM {t}").fetchone()[0]
        for c, ty, *_ in con.sql(f"DESCRIBE {t}").fetchall():
            out[(t, c, "type")] = ty
            if ty.endswith("[]"):
                x = f"len({c})"
            elif ty == "VARCHAR":
                x = f"length({c})"
            elif ty.startswith("TIMESTAMP"):
                x = f"epoch({c}) / 86400.0"
            else:
                x = c
            n, ndv, top = con.sql(
                f"SELECT count(*), count(DISTINCT {c}), "
                f"(SELECT max(k) FROM (SELECT count(*) k FROM {t} GROUP BY {c})) "
                f"FROM {t}").fetchone() if not ty.endswith("[]") else (1, None, None)
            row = con.sql(f"SELECT min({x}), max({x}), avg({x}), stddev_pop({x}), "
                          f"quantile_cont({x}, [0.1, 0.5, 0.9]) FROM {t}").fetchone()
            lo, hi = float(row[0]), float(row[1])
            if ndv is not None:
                out[(t, c, "distinct")] = ndv
                out[(t, c, "top_share")] = (top / n, 1.0)
            for k, v in zip(("min", "max", "mean", "sd", "q10", "q50", "q90"),
                            (lo, hi, row[2], row[3], *row[4])):
                out[(t, c, k)] = (float(v), hi - lo)
    words = "len(string_split(text, ' '))"
    row = con.sql(f"SELECT avg({words}), min({words}), max({words}), "
                  "count(*) - count(DISTINCT text), "
                  "count(*) FILTER (WHERE text LIKE '% dup') FROM documents").fetchone()
    vocab = con.sql("SELECT count(DISTINCT w) FROM (SELECT unnest(string_split(text, ' ')) w "
                    "FROM documents)").fetchone()[0]
    for k, v in zip(("words_mean", "words_min", "words_max"), row[:3]):
        out[("documents", "text", k)] = (float(v), 90.0)
    out[("documents", "text", "vocabulary")] = vocab
    out[("documents", "text", "exact_dups")] = (row[3], float(row[4]))
    out[("documents", "text", "near_dups")] = row[4]
    return out


def main():
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    gen, ref = (profile(duckdb.connect(), d) for d in sys.argv[1:])
    flagged = 0
    for key in ref:
        r, g = ref[key], gen.get(key)
        if isinstance(r, str):  # a column type must match exactly
            rv, gv = r, g
            bad = gv != rv
        else:
            if isinstance(r, tuple):  # (value, scale the difference is judged on)
                (rv, scale), gv = r, g[0] if g else None
            else:
                rv, scale, gv = r, max(abs(r), 1), g
            bad = gv is None or abs(gv - rv) > TOLERANCE * max(scale, 1e-9)
            rv, gv = f"{rv:.6g}", gv if gv is None else f"{gv:.6g}"
        flagged += bad
        print(f"{'DIFF' if bad else 'ok  '} {'.'.join(filter(None, key[:2])):28} "
              f"{key[2]:11} ref={rv:<14} gen={gv}")
    print(f"{len(ref) - flagged} ok, {flagged} differ")
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()
