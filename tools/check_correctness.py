"""Local replica of the driver's DuckDB-oracle correctness harness.

Runs every ``queries()`` entry at a given sf dir through Spark AND its
``oracle_sql()`` through DuckDB, then compares row count, sorted-by-name
column sets, and values. STRICT mode (the default, and the mode the
committed full logs use) mirrors the driver's exact-representation hash:

- any array/map/struct-typed output column is an immediate FAIL (the
  driver's pandas canonicalizer ``sort_values`` crashes on unhashable
  cells — the r7 ``sq8_error`` lesson);
- float columns must agree EXACTLY (bit-for-bit after dtype
  normalization), not within a tolerance — the driver hashes the value
  representation, so a last-digit rounding divergence (the r7
  ``ts_features`` lumpiness lesson: 6 absolute decimals on a 4.6e6
  magnitude) is a real red row even though ``np.isclose`` passes.

When strict fails but the legacy tolerant compare (rtol/atol 1e-9)
passes, the line is annotated ``(tolerant ok — rounding-magnitude
hazard)`` so the producing query's rounding can be fixed rather than
the values debugged. ``--tolerant`` restores the old behavior as the
primary gate (diagnostic use only — it over-claims vs the driver).

Usage::

    python -m tools.check_correctness [--tolerant] [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time

import duckdb
import numpy as np
import pandas as pd


def _complex_columns(pdf: pd.DataFrame) -> list[str]:
    """Columns holding list/ndarray/dict cells — the driver-crash class."""
    bad = []
    for c in pdf.columns:
        if pdf[c].dtype == object:
            s = pdf[c].dropna()
            probe = s.iloc[: min(len(s), 50)]
            if any(isinstance(v, (list, np.ndarray, dict)) for v in probe):
                bad.append(c)
    return bad


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            pdf[c] = pd.to_datetime(pdf[c]).astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].astype(float)
        elif pd.api.types.is_integer_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("Int64")
        elif pdf[c].dtype == object:
            # array columns (lists / ndarrays) are unhashable and break the
            # lexsort — canonicalize to tuples so they sort & compare (the
            # strict gate has already flagged these as FAIL; this keeps the
            # tolerant diagnostic path alive)
            pdf[c] = pdf[c].map(
                lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v
            )
    return pdf.sort_values(list(pdf.columns), na_position="first").reset_index(
        drop=True
    )


def compare(
    name: str, got: pd.DataFrame, want: pd.DataFrame, strict: bool = True
) -> tuple[list[str], list[str]]:
    """→ (problems, notes). ``problems`` non-empty = FAIL under the chosen
    mode; ``notes`` carries the tolerant-compare adjudication of
    strict-only failures."""
    problems: list[str] = []
    notes: list[str] = []
    if strict:
        bad = _complex_columns(got)
        if bad:
            problems.append(
                f"array/map/struct output column(s) {bad}: the driver's "
                f"canonicalizer crashes on unhashable cells — serialize "
                f"(e.g. concat_ws / array_to_string) on both sides"
            )
    if len(got) != len(want):
        problems.append(f"rowcount spark={len(got)} duckdb={len(want)}")
    g, w = _normalize(got), _normalize(want)
    if list(g.columns) != list(w.columns):
        problems.append(f"columns spark={list(g.columns)} duckdb={list(w.columns)}")
        return problems, notes
    # Strict-dtype gate: the driver hashes value REPRESENTATIONS, so an
    # integer column on one side vs a float column on the other (the DuckDB
    # HUGEINT->float64 class: SUM(BIGINT) comes back 3.0 against Spark's 3)
    # hash-mismatches even when every value is bit-identical.
    for c in g.columns:
        gi = pd.api.types.is_integer_dtype(g[c])
        wi = pd.api.types.is_integer_dtype(w[c])
        gf = pd.api.types.is_float_dtype(g[c])
        wf = pd.api.types.is_float_dtype(w[c])
        if (gi and wf) or (gf and wi):
            problems.append(
                f"col {c}: dtype class mismatch spark={g[c].dtype} "
                f"duckdb={w[c].dtype} (int-vs-float hashes differently on "
                f"the driver even when values are equal)"
            )
    if len(g) != len(w):
        return problems, notes
    for c in g.columns:
        gv, wv = g[c], w[c]
        if pd.api.types.is_float_dtype(gv) or pd.api.types.is_float_dtype(wv):
            a = gv.astype(float).to_numpy()
            b = wv.astype(float).to_numpy()
            both_nan = np.isnan(a) & np.isnan(b)
            exact = both_nan | (a == b)
            close = both_nan | np.isclose(a, b, rtol=1e-9, atol=1e-9,
                                          equal_nan=True)
            bad_mask = ~exact if strict else ~close
            if bad_mask.any():
                i = int(np.argmax(bad_mask))
                msg = (
                    f"col {c}: {int(bad_mask.sum())} mismatches, first at "
                    f"row {i}: spark={a[i]!r} duckdb={b[i]!r}"
                )
                if strict and close.all():
                    msg += " (tolerant ok — rounding-magnitude hazard)"
                    notes.append(c)
                problems.append(msg)
        else:
            eq = (gv == wv) | (gv.isna() & wv.isna())
            if not eq.all():
                i = int(np.argmin(eq.to_numpy()))
                problems.append(
                    f"col {c}: {int((~eq).sum())} mismatches, first at row {i}: "
                    f"spark={gv.iloc[i]!r} duckdb={wv.iloc[i]!r}"
                )
    return problems, notes


def main():
    argv = list(sys.argv[1:])
    strict = True
    if "--tolerant" in argv:
        strict = False
        argv.remove("--tolerant")
    if "--strict" in argv:  # accepted for explicitness; already the default
        argv.remove("--strict")
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("correctness-check")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # the console progress bar would prefix result lines in a
        # redirected log, hiding them from a line-anchored grep
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    mode = "strict" if strict else "tolerant"
    print(f"# mode={mode} sf_dir={sf_dir}")
    qs = entry.queries()
    oracles = entry.oracle_sql()
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"weak  {name}: rows-only ({len(got)} rows) [{time.time()-t0:.1f}s]")
            continue
        try:
            want = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failed.append(name)
            continue
        problems, _notes = compare(name, got, want, strict=strict)
        if problems:
            print(f"FAIL  {name} [{time.time()-t0:.1f}s]")
            for p in problems:
                print(f"      {p}")
            failed.append(name)
        else:
            print(f"ok    {name} ({len(got)} rows) [{time.time()-t0:.1f}s]")

    print()
    if failed:
        print(f"{len(failed)} FAILED ({mode}): {failed}")
        sys.exit(1)
    print(
        f"all {len([q for q in qs if not only or q in only])} queries match "
        f"({mode} mode)"
    )
    spark.stop()


if __name__ == "__main__":
    main()
