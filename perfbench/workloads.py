"""The benchmark's three workloads.

Each is a closed loop: one driver thread issues one operation at a time
and the next only after the previous one returned. A workload gives

- ``prepare(spark)``: the per-session set-up run inside ``setup_s``
  (the catalogue's PREPARES hooks);
- ``ops(rng)``: the operations of one pass, as ``(name, fn)`` pairs,
  where ``fn(tracer)`` runs the operation and records its spans;
- ``check(spark)``: the output checks, run once per run outside the
  timed passes; returns ``(checked, problems)``.
"""

from __future__ import annotations

import contextlib
import os
import random

from tracing import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURES = os.path.join(HERE, "fixtures")

# A third of the single-pass catalogue (the queries registered in
# workload.py, w01_windows_text, w04_relational, w06_joins_chunking and
# w11_warehouse_ops), every third in registration order, frozen so that
# a later registration does not change the workload; plus
# ann_incremental_topk, the cheapest query whose builder runs a
# run_concurrent wave, so that the concurrency layer is measured too.
CATALOG_SHORT = (
    "daily_status", "lookup_join_normalized", "profile_dimensions",
    "event_type_share", "segment_status_pivot", "lineitem_pricing_summary",
    "sliding_1h_15m", "doc_quality", "doc_repetition", "local_supplier_volume",
    "customer_value_deciles", "dormant_rich_customers", "latest_order_snapshot",
    "range_join_surges", "document_chunks_udtf", "semantic_dedup_keep",
    "rollup_incremental_maintenance", "vocab_forget", "doc_tfidf_top_terms",
    "small_quantity_revenue", "customer_retention_setops", "events_variant_extract",
    "ann_incremental_topk",
)
# Queries whose time is spent inside the builder call: eager checkpoints,
# ckpt_wave/run_concurrent waves (llm_dataset_new_batch, whose PREPARES
# build its standing artifacts) and iterative graph rounds.
CATALOG_ITERATIVE = (
    "llm_dataset_new_batch", "dedup_clusters_new_batch", "related_parts_ppr",
    "part_hops_bfs", "jaccard_prefix_filtered",
)


class NullTracer(Tracer):
    """Tracing off: spans cost one no-op context manager."""

    def span(self, name, **attrs):
        return contextlib.nullcontext()


class Catalog:
    cold_pass = False

    def __init__(self, names: tuple[str, ...], sf_dir: str):
        from hubsit_health_analytics_etl_spark import workload as w

        self.w = w
        self.names = names
        self.sf_dir = sf_dir
        self.spark = None
        # plan-tracker phases of each traced query's final DataFrame
        self.catalyst: dict[str, float] = {}

    def prepare(self, spark) -> None:
        self.spark = spark
        for name in self.names:
            if name in self.w.PREPARES:
                self.w.PREPARES[name](spark, self.sf_dir)

    def ops(self, rng: random.Random):
        order = list(self.names)
        rng.shuffle(order)
        return [(name, self._op(name)) for name in order]

    def _op(self, name: str):
        def run(tracer: Tracer) -> None:
            with tracer.span("op", query=name):
                with tracer.span("workloads.build"):
                    df = self.w.QUERIES[name](self.spark, self.sf_dir)
                with tracer.span("spark.noop_write"):
                    df.write.format("noop").mode("overwrite").save()
            if not isinstance(tracer, NullTracer):
                self._record_phases(df)

        return run

    def _record_phases(self, df) -> None:
        """Catalyst phase times of the final DataFrame. Analysis ran when
        the builder made it; optimization and planning run here, for the
        frame itself, because the noop write planned a wrapper command in
        a QueryExecution of its own."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()  # a Scala Map
        for phase in ("analysis", "optimization", "planning"):
            if phases.contains(phase):
                ms = phases.apply(phase).durationMs()
                self.catalyst[phase] = self.catalyst.get(phase, 0.0) + ms

    def check(self, spark):
        """Every query is compared with its DuckDB oracle through the
        repository's own comparison; a query that raises fails."""
        from tests.oracle_check import compare, duckdb_conn

        con = duckdb_conn(self.sf_dir)
        problems = []
        try:
            for name in self.names:
                if name not in self.w.ORACLES:
                    problems.append(f"{name}: no oracle to check against")
                    continue
                try:
                    problems += compare(
                        self.w.QUERIES[name](spark, self.sf_dir), con, self.w.ORACLES[name], name
                    )
                except Exception as e:  # a failing query is a failed check
                    problems.append(f"{name}: raised {type(e).__name__}: {_first_line(e)}")
        finally:
            con.close()
        return len(self.names), problems


class Appointments:
    """``etl.appointments.run_pipeline`` then
    ``etl.relatorio.gerar_relatorio_completo`` on a generated base.

    Only its first pass is timed, cold, as the command line runs the
    pipeline once per process; the check then reads what it wrote."""

    cold_pass = True

    def __init__(self, work_dir: str, rows: int, seed: int):
        import gen_appointments

        self.gen = gen_appointments
        self.inputs = gen_appointments.generate(os.path.join(work_dir, "inputs"), rows, seed)
        self.out_dir = os.path.join(work_dir, "etl_out")
        self.spark = None
        self.tables = None
        self.report = ""
        self.catalyst: dict[str, float] = {}

    def prepare(self, spark) -> None:
        self.spark = spark

    def ops(self, rng: random.Random):
        return [("etl", self._etl), ("report", self._report)]

    def _etl(self, tracer: Tracer) -> None:
        from hubsit_health_analytics_etl_spark.etl import appointments

        with tracer.span("op", query="etl"):
            self.tables = appointments.run_pipeline(
                self.spark,
                self.inputs["base"],
                self.inputs["prices"],
                self.out_dir,
                as_of=self.gen.AS_OF,
                ocupacao_path=self.inputs["occupancy"],
                blacklist=self.gen.BLACKLIST,
            )

    def _report(self, tracer: Tracer) -> None:
        from hubsit_health_analytics_etl_spark.etl import relatorio

        with tracer.span("op", query="report"):
            self.report = relatorio.gerar_relatorio_completo(
                self.tables["base_tratada_completa"]
            )

    def check(self, spark):
        checks = {
            "status_counts": self._check_status,
            "financeiro_vs_duckdb": self._check_financeiro,
            "outputs_written": self._check_outputs,
            "report": self._check_report,
        }
        problems = []
        for name, fn in checks.items():
            try:
                problems += [f"{name}: {p}" for p in fn(spark)]
            except Exception as e:
                problems.append(f"{name}: raised {type(e).__name__}: {_first_line(e)}")
        return len(checks), problems

    def _check_status(self, spark):
        """No row lost: the statuses of the written fact add up to the
        rows that survive the blacklist, and match the status each row's
        generated scenario implies."""
        fact = spark.read.parquet(f"{self.out_dir}/base_tratada_completa.parquet")
        got = {r[0]: r[1] for r in fact.groupBy("Status_Consolidado").count().collect()}
        want = self.inputs["status_counts"]
        problems = []
        if sum(got.values()) != self.inputs["kept"]:
            problems.append(f"{sum(got.values())} rows written, {self.inputs['kept']} kept")
        if got != want:
            problems.append(f"status counts {got} != expected {want}")
        return problems

    def _check_financeiro(self, spark):
        import duckdb
        import pandas as pd

        got = spark.read.parquet(f"{self.out_dir}/financeiro.parquet").toPandas()
        base = pd.read_csv(
            self.inputs["base"], sep=";", encoding="latin1", dtype=str, keep_default_na=False
        )
        prices = pd.read_csv(
            self.inputs["prices"], sep=";", encoding="latin1", dtype=str, header=None,
            names=["Procedimento", "Convenio", "Valor_Convenio"], keep_default_na=False,
        )
        con = duckdb.connect()
        try:
            con.register("base", base)
            con.register("prices", prices)
            want = con.execute(_financeiro_sql(self.gen.AS_OF, self.gen.BLACKLIST)).fetchdf()
        finally:
            con.close()
        return _compare_frames(got, want, ["Unidade", "Procedimento"])

    def _check_outputs(self, spark):
        import glob

        problems = []
        for name in self.tables:
            if not glob.glob(f"{self.out_dir}/{name}.parquet/part-*"):
                problems.append(f"{name}.parquet has no part file")
            if not glob.glob(f"{self.out_dir}/{name}.csv_dir/part-*.csv"):
                problems.append(f"{name}.csv_dir has no part file")
        if len(self.tables) != 10:
            problems.append(f"{len(self.tables)} tables, expected 10")
        return problems

    def _check_report(self, spark):
        return [] if len(self.report.splitlines()) > 10 else ["report is (nearly) empty"]


def _norm_sql(col: str) -> str:
    return (
        f"regexp_replace(trim(regexp_replace(upper(strip_accents({col})), "
        f"'[^A-Z0-9 ]', '', 'g')), ' +', ' ', 'g')"
    )


def _ts(col: str) -> str:
    return f"strptime(NULLIF(\"{col}\", ''), '%d/%m/%Y %H:%M')"


def _financeiro_sql(as_of, blacklist) -> str:
    """The ``financeiro`` output restated from the reference's rules,
    straight over the generated CSV and price table."""
    black = ", ".join(f"'{b.upper().strip()}'" for b in blacklist)
    valor = (
        "TRY_CAST(replace(replace(regexp_replace(Valor_Convenio, '[R$\\s]', '', 'g'), "
        "'.', ''), ',', '.') AS DOUBLE)"
    )
    return f"""
    WITH b AS (
      SELECT NULLIF(Unidade, '') AS Unidade, NULLIF(Procedimento, '') AS Procedimento,
             {_norm_sql('Procedimento')} AS kp, {_norm_sql('Convenio')} AS kc,
             {_ts('Agendamento Inicio')} AS inicio,
             {_ts('Atendimentos_DataEHora_Chegada')} AS chegada,
             {_ts('Atendimentos_DataEHora_Atendimento')} AS atendimento,
             {_ts('Cancelamentos_DataDeCancelamento')} AS cancelamento
      FROM base
      WHERE NULLIF(ID_Medico_Anon, '') IS NULL
         OR upper(trim(ID_Medico_Anon)) NOT IN ({black})
    ), p AS (
      SELECT {_norm_sql('Procedimento')} AS kp, {_norm_sql('Convenio')} AS kc,
             {valor} AS valor
      FROM prices
    ), s AS (
      SELECT b.Unidade, b.Procedimento, COALESCE(p.valor, 0.0) AS valor,
        CASE
          WHEN atendimento IS NOT NULL THEN 'ATENDIDO'
          WHEN chegada IS NULL AND inicio < TIMESTAMP '{as_of:%Y-%m-%d %H:%M:%S}' THEN 'NO-SHOW'
          WHEN cancelamento IS NOT NULL
               AND date_diff('second', cancelamento, inicio) / 3600.0 < 24 THEN 'CANCELAMENTO_TARDIO'
          WHEN cancelamento IS NOT NULL THEN 'CANCELADO'
          ELSE 'AGENDADO'
        END AS st
      FROM b LEFT JOIN p ON b.kp = p.kp AND b.kc = p.kc
    )
    SELECT Unidade, Procedimento,
           COUNT(*) AS qtde_agendamentos,
           COUNT(*) FILTER (WHERE st = 'ATENDIDO') AS qtde_realizados,
           COUNT(*) FILTER (WHERE st = 'NO-SHOW') AS qtde_no_show,
           COALESCE(SUM(valor) FILTER (WHERE st = 'ATENDIDO'), 0) AS receita_realizada,
           COALESCE(SUM(valor) FILTER (WHERE st = 'NO-SHOW'), 0) AS receita_perdida_no_show,
           COALESCE(SUM(valor) FILTER (WHERE st IN ('CANCELADO', 'CANCELAMENTO_TARDIO')), 0)
             AS receita_perdida_cancelado,
           SUM(valor) AS receita_potencial
    FROM s
    WHERE st <> 'AGENDADO' AND Unidade IS NOT NULL AND Procedimento IS NOT NULL
    GROUP BY Unidade, Procedimento
    """


def _compare_frames(got, want, keys: list[str]) -> list[str]:
    """Row-by-row comparison on ``keys``; counts exact, money to the
    cent (float sums differ in the last bits between engines)."""
    problems = []
    g = {tuple(r[k] for k in keys): r for r in got.to_dict("records")}
    w = {tuple(r[k] for k in keys): r for r in want.to_dict("records")}
    if set(g) != set(w):
        return [f"groups differ: only spark {sorted(set(g) - set(w))[:3]}, "
                f"only duckdb {sorted(set(w) - set(g))[:3]}"]
    for key, wr in w.items():
        gr = g[key]
        for col, wv in wr.items():
            if col in keys:
                continue
            gv = gr.get(col)
            if gv is None or abs(float(gv) - float(wv)) > 0.005:
                problems.append(f"{key} {col}: spark {gv} duckdb {wv}")
    return problems[:5]


def _first_line(e: BaseException) -> str:
    return (str(e).strip().splitlines() or [""])[0][:300]
