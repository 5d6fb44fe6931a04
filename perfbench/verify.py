"""Output checks: the DuckDB oracle gate once per seed, then a row count and
an order-insensitive digest for every timed operation.

The digest is ``sum(xxhash64(row))`` over the sorted column names, as
decimal(38,0) so it cannot overflow. A sum, unlike ``bit_xor``, does not
cancel duplicate rows. Used as a leaf's timed action it also forces every
column of every row to be computed.

The reference digest must come from output the oracle has checked, so
during the gate each checked query's DataFrame is persisted and captured;
its digest is then read from those same cached rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# bench.py's oracle-less production overrides → (registered gate twin, the
# override's columns). An override's reference is its twin's oracle-checked
# output projected onto those columns, so every timed run of the override is
# checked against the twin
OVERRIDE_TWINS = {
    "pit_backfill": ("pit_backfill", ["event_id", "entity_id", "ts_us", "f_value_filled"]),
}


def fit_oracles(names, sf_dir: str) -> dict[str, str]:
    """The fit-twin oracles of ``names``, each built exactly as
    ``oracle_fit.build_dynamic_oracles`` builds it. The gate uses these
    instead of building all fifteen (about 6 s at sf0.01). As there, a
    builder that fails skips its oracle, so that query gets a rows-only
    check, which is a gate failure; so does a timed query whose fit-twin
    oracle is missing here."""
    from ficaria_spark import oracle_fit as of

    builders = {
        "impute_fcm_parameter": lambda: of.parameter_oracle_sql(of.fit_fcm_centers(sf_dir)),
        "select_wfrs": lambda: of.selector_oracle_sql(of.fit_wfrs_selected(sf_dir)),
    }
    out = {}
    for name in names:
        if name in builders:
            try:
                out[name] = builders[name]()
            except Exception:
                pass
    return out


def digest(df: DataFrame) -> tuple[int, int]:
    """(row count, order-insensitive content digest) of ``df``."""
    cols = sorted(df.columns)
    h = F.xxhash64(*[df[c] for c in cols]).cast("decimal(38,0)")
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def references(spark, sf_dir: str, leaves: list[str], job_query: str,
               echo=print) -> tuple[dict, list[str]]:
    """Run the oracle gate for every query the workload times and return
    ({timed name: [rows, digest]}, failures). Untimed; once per seed.

    A query the gate can only row-count (no static oracle, or a fit-twin
    oracle whose builder failed) is a failure: its output is unverified and
    must not become a reference."""
    from ficaria_spark import queries
    from tools.check_oracle import run_gate

    names = sorted({OVERRIDE_TWINS.get(n, (n,))[0] for n in leaves} | {job_query})
    captured: dict[str, DataFrame] = {}
    originals = {n: queries.QUERIES[n] for n in names}

    def capture(name, fn):
        def run(spark_, sf_dir_):
            df = fn(spark_, sf_dir_).persist()
            captured[name] = df
            return df
        return run

    rows_only: list[str] = []

    def log(line: str) -> None:
        if "(rows-only check" in line:
            rows_only.append(line.split()[0])
        echo(line)

    build_all = queries.dynamic_oracles
    try:
        for n in names:
            queries.QUERIES[n] = capture(n, originals[n])
        queries.dynamic_oracles = lambda sf_dir_=None: fit_oracles(names, sf_dir)
        failures = run_gate(sf_dir, set(names), spark=spark, echo=log)
    finally:
        queries.QUERIES.update(originals)
        queries.dynamic_oracles = build_all
    refs: dict[str, list[int]] = {}
    try:
        failures += [f"{n} (no oracle, rows-only check)" for n in rows_only]
        failures += [f"{n} (not run by the gate)" for n in names if n not in captured]
        for leaf in dict.fromkeys([*leaves, job_query]):
            twin, cols = OVERRIDE_TWINS.get(leaf, (leaf, None))
            if twin not in captured or twin in rows_only:
                continue
            df = captured[twin]
            refs[leaf] = list(digest(df if cols is None else df.select(*cols)))
    finally:
        for df in captured.values():
            df.unpersist(blocking=True)
    return refs, failures
