"""The reference pipeline, complete: every transformation and all nine
Power-BI aggregate outputs of /root/reference/src/etl_pipeline.py,
re-expressed as Spark DataFrame lineage.

A reference user can switch to ``run_pipeline(spark, base_csv,
precos_txt, out_dir, as_of=...)`` and get the same tables with the
same column names. Differences, all deliberate:

- ``as_of`` replaces ``datetime.now()`` (etl_pipeline.py:169) —
  reproducible, testable, oracle-checkable.
- Zero row-at-a-time Python: the status machine
  (``definir_status_final``, :265-277) and every per-group lambda
  (:478-480 etc.) are native ``when``/``sum(when)`` expressions.
- One ingest pass per run: pandas materializes after every statement;
  here Catalyst fuses the CSV → preprocess lineage into one plan that
  runs once, to write the fact's Parquet. The nine aggregates, both
  export formats and the report all read Parquet, so Catalyst prunes
  columns and pushes filters into that scan instead of re-parsing the
  CSV per output.
- Division by zero yields 0 (not pandas inf) in the capacity ratios
  (:674-676) — the reference's fillna(0) only masks NaN, not inf.
- Outputs written Parquet-first; the ';'+decimal-comma CSV dialect
  (:470 ×10) via sinks.write_csv_pbi at the export edge.
"""

from __future__ import annotations

import datetime as dt
from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions.case import band, status_machine
from ..functions.nulls import safe_rate
from ..functions.temporal import (
    age_years,
    duration,
    parse_dayfirst_timestamp,
    shift_of_day,
)
from ..functions.text import currency_to_double, normalize_key
from ..operators.aggregate import count_if, sum_if
from ..operators.profile import quality_profile  # noqa: F401 (generic variant)

# etl_pipeline.py:28
LIMITE_PONTUALIDADE_MINUTOS = 15

# etl_pipeline.py:183-190 — the 13 dayfirst datetime columns
DATETIME_COLS = [
    "Agendamento Inicio",
    "Agendamento Final",
    "Data_Marcacao",
    "Pacientes_DataNascimento",
    "Pacientes_DataRegistro",
    "Confirmacoes_Data_Confirmacao",
    "Confirmacoes_DataEHora_Atendimento",
    "Atendimentos_DataEHora_Chegada",
    "Atendimentos_DataEHora_Registro",
    "Atendimentos_DataEHora_Atendimento",
    "Atendimentos_DataEHora_Final",
    "Cancelamentos_DataDeCancelamento",
    "Cancelamentos_DataEHora_Atendimento",
]

# etl_pipeline.py:48-76 (normalizar_colunas): nominal → canonical names
COLUMN_RENAMES = {
    "Pacientes.Sexo": "Pacientes_Sexo",
    "Pacientes.DataNascimento": "Pacientes_DataNascimento",
    "Pacientes.DataRegistro": "Pacientes_DataRegistro",
    "Pacientes.Indicacao": "Pacientes_Indicacao",
    "Confirmacoes.Data Confirmacao": "Confirmacoes_Data_Confirmacao",
    "Atendimentos.Data e hora chegada": "Atendimentos_DataEHora_Chegada",
    "Atendimentos.Data e hora do registro": "Atendimentos_DataEHora_Registro",
    "Atendimentos.Data e hora atendimento": "Atendimentos_DataEHora_Atendimento",
    "Atendimentos.Data e hora final": "Atendimentos_DataEHora_Final",
    "Cancelamentos.Data de cancelamento": "Cancelamentos_DataDeCancelamento",
}

_PAST = ["CANCELADO", "CANCELAMENTO_TARDIO"]


def normalize_columns(df: DataFrame) -> DataFrame:
    """P1: bulk rename to canonical names (only for columns present —
    the script must accept both nominal and anonymized bases)."""
    present = {a: b for a, b in COLUMN_RENAMES.items() if a in df.columns}
    return df.withColumnsRenamed(present) if present else df


def _bool(col: F.Column) -> F.Column:
    """pandas boolean semantics: null comparisons are False, not null."""
    return F.coalesce(col, F.lit(False))


def _nonnull_keys(df: DataFrame, keys: list[str]) -> DataFrame:
    """pandas groupby drops NaN group keys; Spark keeps a NULL group —
    filter before grouping so the outputs match the reference's CSVs."""
    return df.na.drop(subset=[k for k in keys if k in df.columns])


def preprocess(
    df: DataFrame,
    df_precos: DataFrame,
    as_of: dt.datetime,
    blacklist: tuple[str, ...] = (),
    parse_dates: bool = False,
) -> DataFrame:
    """`pre_processar_dados` (etl_pipeline.py:163-300) as one lazy
    lineage. ``parse_dates=True`` applies the dayfirst parse (needed
    for CSV input; parquet arrives typed)."""
    as_of_lit = F.lit(as_of)
    df = normalize_columns(df)

    # blacklist anti-filter (:171-181) — P5/J3. Null doctors must be
    # KEPT (pandas astype(str)->'nan' is never in the list; a bare
    # ~isin(NULL) would three-valued-logic-drop them)
    if blacklist and "ID_Medico_Anon" in df.columns:
        norm = [b.upper().strip() for b in blacklist]
        doc = F.col("ID_Medico_Anon")
        df = df.filter(doc.isNull() | ~F.upper(F.trim(doc)).isin(norm))

    # F5 — tolerant dayfirst datetime parse (:183-194)
    dates = [c for c in DATETIME_COLS if c in df.columns] if parse_dates else []
    if dates:
        df = df.withColumns(
            {c: parse_dayfirst_timestamp(F.col(c).cast("string")) for c in dates}
        )

    # null policy (:196-197)
    if "Pacientes_Sexo" in df.columns:
        df = df.na.fill({"Pacientes_Sexo": "Indefinido"})

    # stale price column dropped, re-derived via the lookup (:199-233)
    if "Valor" in df.columns:
        df = df.drop("Valor")
    if "Procedimento" in df.columns and "Convenio" in df.columns:
        prices = df_precos.select(
            normalize_key("Procedimento").alias("key_proc"),
            normalize_key("Convenio").alias("key_conv"),
            F.col("Valor_Convenio"),
        )
        price_is_text = dict(df_precos.dtypes).get("Valor_Convenio") == "string"
        df = (
            df.withColumn("key_proc", normalize_key("Procedimento"))
            .withColumn("key_conv", normalize_key("Convenio"))
            .join(F.broadcast(prices), ["key_proc", "key_conv"], "left")
            .drop("key_proc", "key_conv")
            .withColumnRenamed("Valor_Convenio", "Valor")
        )
        # decimal-comma munging ONLY for text prices (the reference
        # checks dtype == 'object' at :218 — running the thousands-dot
        # strip on an already-numeric '150.5' would 10x it)
        if price_is_text:
            df = df.withColumn("Valor", currency_to_double("Valor"))
        else:
            df = df.withColumn("Valor", F.col("Valor").cast("double"))
        df = df.na.fill({"Valor": 0.0})
    else:
        df = df.withColumn("Valor", F.lit(0.0))

    # F11 — derived flags (:238-241)
    df = (
        df.withColumn(
            "agendamentos_cancelados", F.col("Cancelamentos_DataDeCancelamento").isNotNull()
        )
        .withColumn(
            "agendamentos_confirmados", F.col("Confirmacoes_Data_Confirmacao").isNotNull()
        )
        .withColumn("atendimentos_ok", F.col("Atendimentos_DataEHora_Atendimento").isNotNull())
        .withColumn("comparecimentos_ok", F.col("Atendimentos_DataEHora_Chegada").isNotNull())
    )

    # F6/F12 — durations + business predicates (:243-263)
    df = df.withColumn(
        "horas_antecedencia_cancelamento",
        duration("Agendamento Inicio", "Cancelamentos_DataDeCancelamento", "hours"),
    )
    df = (
        df.withColumn(
            "cancelamento_tardio",
            _bool(
                F.col("agendamentos_cancelados")
                & F.col("horas_antecedencia_cancelamento").isNotNull()
                & (F.col("horas_antecedencia_cancelamento") < 24)
            ),
        )
        .withColumn(
            "noshow_padrao",
            _bool(~F.col("comparecimentos_ok") & (F.col("Agendamento Inicio") < as_of_lit)),
        )
        .withColumn(
            "noshow_confirmado",
            _bool(F.col("noshow_padrao") & F.col("agendamentos_confirmados")),
        )
    )

    # F10 — the status machine (:265-277), first-match-wins
    df = df.withColumn(
        "Status_Consolidado",
        status_machine(
            [
                (F.col("atendimentos_ok"), "ATENDIDO"),
                (F.col("noshow_padrao"), "NO-SHOW"),
                (F.col("cancelamento_tardio"), "CANCELAMENTO_TARDIO"),
                (F.col("agendamentos_cancelados"), "CANCELADO"),
            ],
            default="AGENDADO",
        ),
    )

    # F7/F9 — age + band (:279-288)
    if "Pacientes_DataNascimento" in df.columns:
        df = df.withColumn(
            "Idade",
            age_years("Pacientes_DataNascimento", as_of_lit),
        ).withColumn(
            "Faixa_Etaria",
            band("Idade", [0, 13, 18, 40, 60, 120], ["0-12", "13-17", "18-39", "40-59", "60+"]),
        )

    # is_novo (:290-293)
    if "Data_Marcacao" in df.columns and "Pacientes_DataRegistro" in df.columns:
        df = df.withColumn(
            "is_novo",
            _bool(F.to_date("Data_Marcacao") == F.to_date("Pacientes_DataRegistro")),
        )
    else:
        df = df.withColumn("is_novo", F.lit(False))

    # F8 — shift + schedule date (:295-297)
    if "Agendamento Inicio" in df.columns:
        df = df.withColumn("Turno", shift_of_day("Agendamento Inicio")).withColumn(
            "Data_Agendamento", F.to_date("Agendamento Inicio")
        )
    return df


# --------------------------------------------------------------------------
# The nine aggregate outputs (etl_pipeline.py:464-688)
# --------------------------------------------------------------------------
def agenda_comparecimento(df: DataFrame) -> DataFrame:
    """1. Daily attendance (:474-487) — on the FULL base (includes
    future AGENDADO rows), per the reference."""
    st = F.col("Status_Consolidado")
    out = _nonnull_keys(df, ["Data_Agendamento"]).groupBy("Data_Agendamento").agg(
        F.count(F.lit(1)).alias("total_agendado"),
        count_if(st == "ATENDIDO").alias("total_realizado"),
        count_if(st == "NO-SHOW").alias("total_no_show"),
        count_if(st.isin(_PAST)).alias("total_cancelado"),
    )
    return (
        out.withColumn("taxa_no_show_%", safe_rate(F.col("total_no_show"), F.col("total_agendado")))
        .withColumn("taxa_cancelamento_%", safe_rate(F.col("total_cancelado"), F.col("total_agendado")))
        .withColumn("taxa_realizacao_%", safe_rate(F.col("total_realizado"), F.col("total_agendado")))
    )


def status_por_turno(df_passado: DataFrame) -> DataFrame:
    """2. Shift profile (:489-499) — past rows only."""
    st = F.col("Status_Consolidado")
    out = df_passado.groupBy("Turno").agg(
        F.count(F.lit(1)).alias("total_agendado"),
        count_if(st == "ATENDIDO").alias("atendido"),
        count_if(st == "NO-SHOW").alias("no_show"),
        count_if(st == "CANCELADO").alias("cancelado"),
        count_if(st == "CANCELAMENTO_TARDIO").alias("cancelamento_tardio"),
    )
    return out.withColumn("taxa_no_show_%", safe_rate(F.col("no_show"), F.col("total_agendado")))


PROFILE_DIMS = {
    "Pacientes_Sexo": "Sexo",
    "Faixa_Etaria": "Faixa_Etaria",
    "Pacientes_Indicacao": "Indicacao",
}


def perfil_noshow(df_passado: DataFrame) -> DataFrame:
    """3. Multi-dimension no-show profile (:501-528). The reference
    loops dims + concat; here one GROUPING SETS pass (single shuffle)
    via operators.reshape.profile_union semantics, emitted with the
    reference's exact column names.

    Deliberate difference: pandas ``observed=False`` on the categorical
    Faixa_Etaria also emits zero-count rows for unobserved age bands;
    a distributed hash aggregate only sees observed groups (zero-rows
    carry no information for the dashboard)."""
    from ..operators.reshape import profile_union

    dims = [c for c in PROFILE_DIMS if c in df_passado.columns]
    st = F.col("Status_Consolidado")
    prof = profile_union(
        df_passado,
        dims=dims,
        aggs=[
            count_if(st == "NO-SHOW").alias("No-Show"),
            count_if(st == "ATENDIDO").alias("Realizado"),
            count_if(st.isin(_PAST)).alias("Cancelado"),
            F.count(F.lit(1)).alias("total"),
        ],
        dim_name_col="dimensao",
        dim_value_col="valor_dimensao",
    )
    # reference reports the friendly dim names (:503-507)
    name_map = reduce(
        lambda acc, kv: acc.when(F.col("dimensao") == kv[0], F.lit(kv[1])),
        PROFILE_DIMS.items(),
        F.when(F.lit(False), F.lit("")),
    ).otherwise(F.col("dimensao"))
    return (
        prof.withColumn("dimensao", name_map)
        .withColumn("taxa_no_show_%", safe_rate(F.col("No-Show"), F.col("total")))
        .select("dimensao", "valor_dimensao", "No-Show", "Realizado", "Cancelado", "total", "taxa_no_show_%")
    )


def financeiro(df_passado: DataFrame) -> DataFrame:
    """4. Financial split (:530-544): conditional revenue sums stated
    by intent (the reference uses index-aligned cross-filter lambdas,
    :537-539 — same result, distributed-safe here)."""
    st = F.col("Status_Consolidado")
    v = F.col("Valor")
    out = _nonnull_keys(df_passado, ["Unidade", "Procedimento"]).groupBy(
        "Unidade", "Procedimento"
    ).agg(
        F.count(F.lit(1)).alias("qtde_agendamentos"),
        count_if(st == "ATENDIDO").alias("qtde_realizados"),
        count_if(st == "NO-SHOW").alias("qtde_no_show"),
        sum_if(v, st == "ATENDIDO").alias("receita_realizada"),
        sum_if(v, st == "NO-SHOW").alias("receita_perdida_no_show"),
        sum_if(v, st.isin(_PAST)).alias("receita_perdida_cancelado"),
        F.sum(v).alias("receita_potencial"),
    )
    return out.withColumn(
        "ticket_medio", safe_rate(F.col("receita_realizada"), F.col("qtde_realizados"), pct=False)
    )


def atravessamento(df: DataFrame) -> DataFrame:
    """5. Throughput/punctuality (:546-568): journey minutes from the
    attendance timestamps; punctuality vs schedule start."""
    need = [
        "Atendimentos_DataEHora_Chegada",
        "Atendimentos_DataEHora_Atendimento",
        "Atendimentos_DataEHora_Final",
    ]
    base = df.filter(
        (F.col("Status_Consolidado") == "ATENDIDO")
        & reduce(lambda a, c: a & F.col(c).isNotNull(), need, F.lit(True))
    )
    base = (
        base.withColumn(
            "tempo_total",
            duration("Atendimentos_DataEHora_Final", "Atendimentos_DataEHora_Chegada", "minutes"),
        )
        .withColumn(
            "tempo_espera",
            duration(
                "Atendimentos_DataEHora_Atendimento", "Atendimentos_DataEHora_Chegada", "minutes"
            ),
        )
        .withColumn(
            "pontualidade",
            duration("Atendimentos_DataEHora_Atendimento", "Agendamento Inicio", "minutes"),
        )
        .withColumn(
            "no_horario", _bool(F.col("pontualidade") <= LIMITE_PONTUALIDADE_MINUTOS)
        )
    )
    out = _nonnull_keys(base, ["Unidade", "ID_Medico_Anon"]).groupBy(
        "Unidade", "ID_Medico_Anon"
    ).agg(
        F.count(F.lit(1)).alias("qtde_atendimentos"),
        F.round(F.avg("tempo_total"), 2).alias("tempo_medio_total_min"),
        F.round(F.avg("tempo_espera"), 2).alias("tempo_medio_espera_min"),
        F.round(F.avg("pontualidade"), 2).alias("pontualidade_media_min"),
        count_if(F.col("no_horario")).alias("atendimentos_no_horario"),
    )
    return out.withColumn(
        "taxa_pontualidade_%",
        safe_rate(F.col("atendimentos_no_horario"), F.col("qtde_atendimentos")),
    )


def fluxo_pacientes(df_passado: DataFrame) -> DataFrame:
    """6. New vs recurring flow (:570-577) with percent-of-total."""
    from ..operators.reshape import percent_of_total

    out = (
        df_passado.withColumn(
            "tipo_paciente", F.when(F.col("is_novo"), "Novo").otherwise("Recorrente")
        )
        .groupBy("tipo_paciente")
        .agg(F.count(F.lit(1)).alias("quantidade"))
    )
    return out.withColumn("percentual_%", percent_of_total("quantidade"))


def indicadores_confirmacao(df: DataFrame) -> DataFrame:
    """7. Scalar KPI block → long table (:579-596)."""
    from ..operators.reshape import unpivot

    st = F.col("Status_Consolidado")
    wide = df.agg(
        F.count(F.lit(1)).alias("Total Agendamentos"),
        count_if(F.col("agendamentos_confirmados")).alias("Agendamentos Confirmados"),
        count_if(F.col("comparecimentos_ok")).alias("Comparecimentos"),
        count_if(st == "ATENDIDO").alias("Atendimentos Realizados"),
        count_if(st == "NO-SHOW").alias("No-Shows"),
        count_if(F.col("agendamentos_cancelados")).alias("Cancelamentos"),
        count_if(F.col("cancelamento_tardio")).alias("Cancelamentos Tardios"),
    ).withColumn("_total", F.col("Total Agendamentos"))
    long = unpivot(
        wide,
        ids=["_total"],
        value_cols=[
            "Total Agendamentos",
            "Agendamentos Confirmados",
            "Comparecimentos",
            "Atendimentos Realizados",
            "No-Shows",
            "Cancelamentos",
            "Cancelamentos Tardios",
        ],
        var_name="indicador",
        value_name="quantidade",
    )
    return long.select(
        "indicador",
        "quantidade",
        safe_rate(F.col("quantidade"), F.col("_total")).alias("percentual"),
    )


QUALITY_COLS = [
    "Agendamento Inicio",
    "Data_Marcacao",
    "Valor",
    "Unidade",
    "Procedimento",
    "ID_Medico_Anon",
    "ID_Paciente_Anon",
    "Categoria_Servico_Limpa",
    "Pacientes_Sexo",
    "Pacientes_DataNascimento",
    "Pacientes_Indicacao",
    "Confirmacoes_Data_Confirmacao",
]


def qualidade_dados(df: DataFrame) -> DataFrame:
    """8. Data-quality table (:598-625) — ONE aggregate pass for all
    columns (the reference loops full-table scans), reference schema."""
    cols = [c for c in QUALITY_COLS if c in df.columns]
    prof = quality_profile(df, cols)
    return prof.select(
        F.col("coluna").alias("campo"),
        F.col("total").alias("total_registros"),
        F.col("faltantes").alias("registros_vazios"),
        F.col("preenchidos").alias("registros_preenchidos"),
        F.col("pct_preenchido").alias("percentual_preenchimento"),
        F.col("pct_faltante").alias("percentual_vazios"),
    )


def perfil_agenda(df_passado: DataFrame, df_ocupacao: DataFrame | None) -> DataFrame:
    """9. Schedule profile with occupancy (:627-686): 4-key group-by,
    pre-aggregated broadcast capacity join on the normalized doctor
    key, capacity-relative rates (den 0 → 0, unlike pandas inf)."""
    st = F.col("Status_Consolidado")
    keys = ["Unidade", "ID_Medico_Anon", "Procedimento", "Categoria_Servico"]
    grp = _nonnull_keys(df_passado, keys).groupBy(*keys).agg(
        F.count(F.lit(1)).alias("qtde_agendamentos"),
        count_if(st == "ATENDIDO").alias("qtde_realizados"),
        count_if(st == "NO-SHOW").alias("qtde_no_show"),
        count_if(st.isin(_PAST)).alias("qtde_cancelados"),
        F.sum("Valor").alias("valor_total_agendado"),
    )
    if df_ocupacao is not None:
        cap = (
            df_ocupacao.withColumn("key_medico", normalize_key("Nome_Medico"))
            .groupBy("key_medico")
            .agg(F.sum("qtde_horarios_disponiveis").alias("qtde_horarios_disponiveis"))
        )
        grp = (
            grp.withColumn("key_medico", normalize_key("ID_Medico_Anon"))
            .join(F.broadcast(cap), "key_medico", "left")
            .drop("key_medico")
            .na.fill({"qtde_horarios_disponiveis": 0})
        )
    else:
        grp = grp.withColumn("qtde_horarios_disponiveis", F.lit(0))
    grp = (
        grp.withColumn(
            "ticket_medio",
            safe_rate(F.col("valor_total_agendado"), F.col("qtde_agendamentos"), pct=False),
        )
        .withColumn(
            "taxa_realizacao_%",
            safe_rate(F.col("qtde_realizados"), F.col("qtde_horarios_disponiveis")),
        )
        .withColumn(
            "taxa_ocupacao_%",
            safe_rate(F.col("qtde_agendamentos"), F.col("qtde_horarios_disponiveis")),
        )
    )
    return grp.select(
        "Unidade", "ID_Medico_Anon", "Procedimento", "Categoria_Servico",
        "qtde_agendamentos", "qtde_horarios_disponiveis", "qtde_realizados",
        "qtde_no_show", "qtde_cancelados", "valor_total_agendado",
        "ticket_medio", "taxa_realizacao_%", "taxa_ocupacao_%",
    )


def gerar_tabelas(
    df: DataFrame, df_ocupacao: DataFrame | None = None
) -> dict[str, DataFrame]:
    """All nine outputs (names = the reference's CSV basenames)."""
    past = df.filter(F.col("Status_Consolidado") != "AGENDADO")
    return {
        "base_tratada_completa": df,
        "agenda_comparecimento": agenda_comparecimento(df),
        "status_por_turno": status_por_turno(past),
        "perfil_noshow": perfil_noshow(past),
        "financeiro": financeiro(past),
        "atravessamento": atravessamento(df),
        "fluxo_pacientes_agregado": fluxo_pacientes(past),
        "indicadores_confirmacao": indicadores_confirmacao(df),
        "qualidade_dados": qualidade_dados(df),
        "perfil_agenda": perfil_agenda(past, df_ocupacao),
    }


def _write_and_reopen(df: DataFrame, path: str) -> DataFrame:
    """Write ``df`` as Parquet and return a scan of what was written.
    The schema is already known, so the re-open runs no inference job."""
    from ..sources.sinks import write_parquet

    write_parquet(df, path)
    return df.sparkSession.read.schema(df.schema).parquet(path)


def run_pipeline(
    spark: SparkSession,
    base_path: str,
    precos_path: str,
    output_dir: str,
    as_of: dt.datetime,
    ocupacao_path: str | None = None,
    blacklist: tuple[str, ...] = (),
    csv_export: bool = True,
) -> dict[str, DataFrame]:
    """End-to-end replacement for `python src/etl_pipeline.py base.csv
    precos.txt`: tolerant CSV ingest → preprocess → nine outputs →
    Parquet (+ optional Power-BI CSV dialect).

    The CSV → preprocess lineage runs once, to write
    ``base_tratada_completa.parquet``. The nine aggregates are built
    over a scan of that Parquet; each is written once as Parquet, and
    its CSV export reads that Parquet back. The returned frames are
    scans of the written Parquet, so the report and any other
    downstream reader never re-run the ingest."""
    from ..sources.csv_tolerant import read_csv_tolerant, read_optional_csv
    from ..sources.sinks import write_csv_pbi

    base = read_csv_tolerant(spark, base_path)
    precos = read_csv_tolerant(
        spark, precos_path, expected_cols=["Procedimento", "Convenio", "Valor_Convenio"]
    )
    ocup = (
        read_optional_csv(
            spark, ocupacao_path, ["Nome_Medico", "qtde_horarios_disponiveis"]
        )
        if ocupacao_path
        else None
    )
    fact = preprocess(base, precos, as_of=as_of, blacklist=blacklist, parse_dates=True)
    fact = _write_and_reopen(fact, f"{output_dir}/base_tratada_completa.parquet")
    tables = {}
    for name, tdf in gerar_tabelas(fact, ocup).items():
        if tdf is not fact:
            tdf = _write_and_reopen(tdf, f"{output_dir}/{name}.parquet")
        tables[name] = tdf
        if csv_export:
            write_csv_pbi(tdf, f"{output_dir}/{name}.csv_dir")
    return tables
