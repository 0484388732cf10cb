"""The benchmark's workloads: what one op is, how it runs, how its output
is checked.

* ``monthly_etl`` — the reference DAG's catch-up replay. One op is one
  logical month: ``validate`` → ``ingest`` → ``aggregate`` through
  ``pipeline.cli.run``, the call a scheduler makes. The cold op is the
  full-mode backfill month; warm ops are update-mode months in date
  order.
* ``query_mix`` — registry queries, each checked against its DuckDB
  oracle: the driver-bound analyst shapes (flagship merge, column
  profile) and the executor-bound corpus/graph operators
  (connected-component survivors, bigram model, k-core peeling). The cold
  pass runs the ops in this fixed order; warm passes are seed-shuffled,
  and the first of them runs untimed.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import re

import gen_permits
import gen_tables

# query_mix: one op per registry query. The corpus/graph half is what
# shuffle bytes, explode stages and driver loops dominate; the analyst
# half is bound by plan construction and py4j.
ANALYST_QUERIES = [
    "flagship_merge_shape",
    "column_profile_orders",
]
CORPUS_GRAPH_QUERIES = [
    "embedding_dedup_survivors",
    "bigram_logprob",
    "kcore_trade_graph",
]
QUERY_SF = 0.01

# monthly_etl: three months of history for the backfill, then update
# months; every update month adds one kategoria, so the sink grows.
ETL_BACKFILL_MONTHS = 3
ETL_UPDATE_MONTHS = 3
ETL_ROWS_PER_MONTH = 2000
ETL_FIRST_MONTH = dt.date(2021, 1, 1)


class CheckFailed(Exception):
    pass


# --- query_mix ----------------------------------------------------------

def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    if isinstance(v, dt.datetime):
        return v.isoformat()[:26]
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    return v


def _canonical(rows, cols: list[str]) -> list[tuple]:
    """Rows with columns in name order and values normalized, sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple((v is None, str(v)) for v in t))


class QueryMix:
    # the first warm pass still runs on a warming JIT (it is 15-25% slower
    # than the next), so it is run untimed
    UNTIMED_PASSES = 1

    def __init__(self, work: str, seed: int):
        self.sf_dir = os.path.join(work, "tables")
        self.seed = seed
        self._oracle = None
        self._duck = None

    def generate(self) -> dict:
        return gen_tables.generate(self.sf_dir, self.seed, QUERY_SF)

    def cold_ops(self, rng) -> list[str]:
        # fixed: the first op absorbs most of the JVM's warm-up
        return ANALYST_QUERIES + CORPUS_GRAPH_QUERIES

    def warm_passes(self, rng):
        while True:
            names = self.cold_ops(rng)
            rng.shuffle(names)
            yield names

    def warm_up(self, spark) -> None:
        """Set-up: load every input table through the catalog, then run a
        join/aggregate/window query and a word count of the benchmark's
        own, so the JVM's generic Spark SQL paths are compiled before the
        cold pass, which then measures what is particular to each op."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F
        from building_permissions_etl_spark import catalog

        t = {n: catalog.load_table(spark, n, self.sf_dir) for n in catalog.TABLES}
        for df in t.values():
            df.count()
        rev = (t["lineitem"].join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
               .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
               .join(t["nation"], F.col("c_nationkey") == F.col("n_nationkey"))
               .groupBy("n_name", F.year("o_orderdate").alias("y"))
               .agg(F.sum("l_extendedprice").alias("rev"),
                    F.countDistinct("o_custkey").alias("buyers")))
        rank = F.rank().over(Window.partitionBy("y").orderBy(F.desc("rev")))
        rev.withColumn("rk", rank).filter("rk <= 3").collect()
        (t["documents"].select(F.explode(F.split("text", " ")).alias("w"))
         .groupBy("w").count().orderBy(F.desc("count")).limit(10).collect())

    def run_op(self, spark, name: str, step):
        from building_permissions_etl_spark.plans import registry

        with step("plans.construct"):
            df = registry.queries()[name](spark, self.sf_dir)
        with step("spark.action"):
            rows = df.collect()
        self._last_df = df
        return rows, list(df.columns)

    def final_catalyst(self) -> dict:
        """Catalyst phases of the op's final plan (traced runs)."""
        import probes

        return probes.catalyst_phases(self._last_df._jdf)

    def layer_extra(self) -> dict:
        return {}

    def layer_end(self) -> dict:
        return {"sources.files_per_month_partition": 0.0}

    def check_end(self, spark) -> list:
        return []

    def check(self, name: str, result) -> None:
        import duckdb
        from building_permissions_etl_spark.plans import registry

        if self._duck is None:
            self._duck = duckdb.connect()
            for t in gen_tables.TABLES:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                self._duck.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            self._oracle = registry.oracle_sql()
        rows, cols = result
        rel = self._duck.sql(self._oracle[name])
        dcols = [c.lower() for c in rel.columns]
        drows = rel.fetchall()
        scols = [c.lower() for c in cols]
        if sorted(scols) != sorted(dcols):
            raise CheckFailed(f"{name}: columns {sorted(scols)} != oracle {sorted(dcols)}")
        if len(rows) != len(drows):
            raise CheckFailed(f"{name}: {len(rows)} rows != oracle {len(drows)}")
        a = _canonical([tuple(r) for r in rows], scols)
        b = _canonical(drows, dcols)
        if a != b:
            diff = next((x, y) for x, y in zip(a, b) if x != y)
            raise CheckFailed(f"{name}: first differing row {diff}")

    def close(self) -> None:
        if self._duck is not None:
            self._duck.close()


# --- monthly_etl --------------------------------------------------------

_CELL = re.compile(r"^(\w+?)_kat_(\d+)_(3m|2m|1m)$")
_MARGIN = re.compile(r"^(budowa|rozbudowa|odbudowa|nadbudowa|wykonanie)_(3m|2m|1m)$")
_ROMAN_INT = {r: i + 1 for i, r in enumerate(gen_permits.ROMAN)}
WINDOWS = {"1m": 1, "2m": 2, "3m": 3}


def _du(path: str) -> int:
    """Bytes of the regular files under ``path``."""
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _short(rodzaj: str) -> str:
    return rodzaj.split(" ")[0].split("/")[0]


class MonthlyEtl:
    UNTIMED_PASSES = 0

    def __init__(self, work: str, seed: int):
        self.seed = seed
        self.inputs = os.path.join(work, "permits")
        self.csv = os.path.join(self.inputs, "permissions.csv")
        self.powiaty = os.path.join(self.inputs, "powiaty.parquet")
        self.fact = os.path.join(work, "fact")
        self.agg = os.path.join(work, "agg")
        self.report = os.path.join(work, "validation_report.html")
        n = ETL_BACKFILL_MONTHS + ETL_UPDATE_MONTHS + 1
        self.exec_dates = gen_permits.month_starts(ETL_FIRST_MONTH, n)[ETL_BACKFILL_MONTHS:]
        self.truth: dict = {}
        self.done: list[dt.date] = []

    def generate(self) -> dict:
        self.truth = gen_permits.generate(
            self.inputs, self.seed,
            n_months=ETL_BACKFILL_MONTHS + ETL_UPDATE_MONTHS,
            rows_per_month=ETL_ROWS_PER_MONTH, first_month=ETL_FIRST_MONTH,
            base_months=ETL_BACKFILL_MONTHS)
        return {"csv_rows": self.truth["validate"]["element_count"],
                "months": len(self.truth["months"])}

    def cold_ops(self, rng) -> list[str]:
        return [self.exec_dates[0].isoformat()]          # the backfill

    def warm_passes(self, rng):
        for d in self.exec_dates[1:]:
            yield [d.isoformat()]

    def warm_up(self, spark) -> None:
        """Set-up: read the CSV and the county dimension once."""
        from building_permissions_etl_spark.sources.csv_source import read_permissions_csv

        read_permissions_csv(spark, self.csv).count()
        spark.read.parquet(self.powiaty).count()

    def run_op(self, spark, name: str, step):
        from building_permissions_etl_spark.pipeline.cli import run

        out = {}
        sink0 = _du(self.agg)
        for task in ("validate", "ingest", "aggregate"):
            with step(f"pipeline.{task}"):
                out[task] = run(spark, [
                    task, "--date", name, "--csv", self.csv, "--fact", self.fact,
                    "--agg", self.agg, "--powiaty", self.powiaty,
                    "--report", self.report])
        self._sink_growth = _du(self.agg) - sink0
        return out

    def final_catalyst(self) -> dict:
        return {}

    def layer_extra(self) -> dict:
        return {"sink_growth_bytes": self._sink_growth}

    def layer_end(self) -> dict:
        """Fact-table layout after the run: files per month partition."""
        months = [d for d in os.listdir(self.fact) if d.startswith("month=")] \
            if os.path.isdir(self.fact) else []
        files = sum(1 for m in months for f in os.listdir(os.path.join(self.fact, m))
                    if f.endswith(".parquet"))
        return {"sources.files_per_month_partition": files / max(1, len(months))}

    # -- checks --

    def _loaded_months(self, exec_date: dt.date, mode: str) -> list[str]:
        if mode == "full":
            return [m for m in self.truth["months"] if m < exec_date.strftime("%Y-%m")]
        prev = (exec_date - dt.timedelta(days=1)).strftime("%Y-%m")
        return [prev] if prev in self.truth["months"] else []

    def check(self, name: str, results: dict) -> None:
        """One month's validate, ingest and aggregate outputs against the
        generator's tallies."""
        exec_date = dt.date.fromisoformat(name)
        v, ing, agg = results["validate"], results["ingest"], results["aggregate"]
        tv = self.truth["validate"]
        want_v = {
            "event_time_shape": False,
            "kategoria_in_set": True,
            "terc_mostly_numeric": tv["terc_regex_ok"] / tv["terc_nonnull"] >= 0.85,
            "rodzaj_distinct_subset": True,
        }
        if v["element_count"] != tv["element_count"] or v["results"] != want_v:
            raise CheckFailed(f"{exec_date}: validate {v} != {want_v}")
        mode = "full" if exec_date == self.exec_dates[0] else "update"
        tally = {"total": 0, "unknown": 0, "unknown2": 0, "unknown3": 0}
        for m in self._loaded_months(exec_date, mode):
            for k in tally:
                tally[k] += self.truth["audit"][m][k]
        invalid = tally["unknown"] + tally["unknown2"] + tally["unknown3"]
        want_i = {"mode": mode, "total_rows": tally["total"],
                  "rows_unknown": tally["unknown"],
                  "rows_unknown2": tally["unknown2"],
                  "rows_unknown3": tally["unknown3"]}
        got_i = {k: ing[k] for k in want_i}
        if got_i != want_i or abs(ing["pct_invalid"] - round(invalid * 100.0 / tally["total"], 4)) > 1e-9:
            raise CheckFailed(f"{exec_date}: ingest audit {ing} != {want_i}")
        if agg["aggregate_rows"] != len(self.truth["counties"]):
            raise CheckFailed(f"{exec_date}: aggregate rows {agg['aggregate_rows']}")
        self.done.append(exec_date)

    def _window_tally(self, exec_date: dt.date, months: int) -> dict:
        """county -> {(short rodzaj, kat n): count} over the window."""
        keys = []
        d = exec_date
        for _ in range(months):
            d = (d - dt.timedelta(days=1)).replace(day=1)
            keys.append(d.strftime("%Y-%m"))
        out: dict[str, dict] = {}
        for m in keys:
            for county, cells in self.truth["cells"].get(m, {}).items():
                acc = out.setdefault(county, {})
                for cell, n in cells.items():
                    rodzaj, kat = cell.split("|")
                    k = (_short(rodzaj), _ROMAN_INT[kat])
                    acc[k] = acc.get(k, 0) + n
        return out

    def check_end(self, spark) -> list[tuple[str, str]]:
        """The sink, for every month run: 380 rows, each window cell and
        margin equal to the generator's tallies. Returns (month, error)
        per mismatch."""
        sink = spark.read.parquet(self.agg)
        cols = sink.columns
        rows = sink.collect()
        errors = []
        for exec_date in self.done:
            inj = f"{exec_date.isoformat()} 00:00:00.000 UTC"
            mine = [r for r in rows if r["injection_date"] == inj]
            if sorted(r["unit_id"] for r in mine) != sorted(self.truth["counties"]):
                errors.append((exec_date.isoformat(), f"{len(mine)} rows, not the 380 counties"))
                continue
            tallies = {w: self._window_tally(exec_date, n) for w, n in WINDOWS.items()}
            seen = {w: set() for w in WINDOWS}
            bad = 0
            for r in mine:
                county = r["unit_id"]
                for c in cols:
                    cm, mm = _CELL.match(c), _MARGIN.match(c)
                    if cm:
                        w, key = cm.group(3), (cm.group(1), int(cm.group(2)))
                        want = tallies[w].get(county, {}).get(key, 0)
                        seen[w].add(key)
                    elif mm:
                        w = mm.group(2)
                        want = sum(n for (s, _), n in tallies[w].get(county, {}).items()
                                   if s == mm.group(1))
                    else:
                        continue
                    bad += int(r[c] != want)
            missing = [(w, k) for w in WINDOWS for per in tallies[w].values()
                       for k in per if k not in seen[w]]
            if bad or missing:
                errors.append((exec_date.isoformat(),
                               f"{bad} wrong cells, {len(missing)} missing columns"))
        return errors

    def close(self) -> None:
        pass
