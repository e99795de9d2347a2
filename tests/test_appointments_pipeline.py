"""End-to-end test of the reference-pipeline replica
(etl/appointments.py) on a crafted appointment base that exercises
every business rule: status priority, late-cancel threshold,
normalized price join with decimal-comma currency, blacklist,
is_novo, age banding, occupancy join, CSV dialect round-trip."""

from __future__ import annotations

import datetime as dt

import pytest

AS_OF = dt.datetime(2025, 6, 1, 0, 0, 0)

HEADER = (
    "Unidade;Procedimento;Convenio;ID_Medico_Anon;ID_Paciente_Anon;Categoria_Servico;"
    "Agendamento Inicio;Data_Marcacao;Pacientes_Sexo;Pacientes_DataNascimento;"
    "Pacientes_DataRegistro;Pacientes_Indicacao;Confirmacoes_Data_Confirmacao;"
    "Atendimentos_DataEHora_Chegada;Atendimentos_DataEHora_Atendimento;"
    "Atendimentos_DataEHora_Final;Cancelamentos_DataDeCancelamento"
)

ROWS = [
    # r1 ATENDIDO, matched price (normalized key), novo patient, on time
    "U1;consulta  geral;PLANO A;DR X;P1;Consulta;10/05/2025 09:00;01/04/2025 10:00;F;"
    "10/03/1990 00:00;01/04/2025 09:00;Google;05/05/2025 10:00;10/05/2025 08:55;"
    "10/05/2025 09:10;10/05/2025 09:40;",
    # r2 NO-SHOW (past, never arrived, confirmed)
    "U1;Consulta Geral;Plano A;DR X;P2;Consulta;15/05/2025 14:00;01/05/2025 10:00;M;"
    "01/01/1950 00:00;01/01/2020 08:00;Indicacao Medica;10/05/2025 10:00;;;;",
    # r3 CANCELAMENTO_TARDIO (future sched, cancelled 11h before)
    "U1;Consulta Geral;Plano A;DR Y;P3;Consulta;10/06/2025 09:00;01/05/2025 10:00;;"
    "15/06/2010 00:00;01/01/2020 08:00;Google;;;;;09/06/2025 22:00",
    # r4 CANCELADO (future sched, cancelled 5 days before)
    "U2;Raio-X Tórax;Plano B;DR Y;P4;Exame;15/06/2025 10:00;01/05/2025 10:00;M;"
    ";01/01/2020 08:00;;;;;;10/06/2025 10:00",
    # r5 AGENDADO (future, untouched)
    "U2;Raio-X Tórax;Plano B;DR X;P5;Exame;20/06/2025 10:00;02/05/2025 10:00;F;"
    "01/01/2000 00:00;01/01/2020 08:00;Site;;;;;",
    # r6 ATENDIDO, UNMATCHED price (unknown convenio) → Valor 0, late arrival
    "U2;Procedimento Raro;Plano Z;DR Y;P6;Exame;20/05/2025 10:00;01/05/2025 10:00;M;"
    ";01/01/2020 08:00;Indefinido;;20/05/2025 10:20;20/05/2025 10:30;20/05/2025 11:00;",
    # r7 blacklisted doctor → dropped entirely
    "U1;Consulta Geral;Plano A;DR BLOCK;P7;Consulta;10/05/2025 09:00;01/04/2025 10:00;F;"
    ";01/01/2020 08:00;;;;;;",
]

# headerless, decimal-comma, accented keys, latin1 — S2's worst case
PRICES = "Consulta Geral;Plano Á;R$ 1.234,56\nRaio-X Tórax;Plano B;R$ 200,00\n"
OCUP = "Nome_Medico;qtde_horarios_disponiveis\ndr  x;10\nDR Y;4\n"


@pytest.fixture(scope="module")
def outputs(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("appt")
    base = tmp / "base_anonima_final.csv"
    base.write_text(HEADER + "\n" + "\n".join(ROWS) + "\n", encoding="latin1")
    precos = tmp / "TabelaConvenio.txt"
    precos.write_text(PRICES, encoding="latin1")
    ocup = tmp / "OcupacaoAgenda.csv"
    ocup.write_text(OCUP, encoding="utf-8")

    from hubsit_health_analytics_etl_spark.etl.appointments import run_pipeline

    out_dir = tmp / "out"
    tables = run_pipeline(
        spark,
        str(base),
        str(precos),
        str(out_dir),
        as_of=AS_OF,
        ocupacao_path=str(ocup),
        blacklist=("dr block",),
    )
    return tables, out_dir, spark


def test_status_machine_and_blacklist(outputs):
    tables, _, _ = outputs
    fact = tables["base_tratada_completa"]
    rows = {r["ID_Paciente_Anon"]: r for r in fact.collect()}
    assert set(rows) == {"P1", "P2", "P3", "P4", "P5", "P6"}  # P7 blacklisted
    assert rows["P1"]["Status_Consolidado"] == "ATENDIDO"
    assert rows["P2"]["Status_Consolidado"] == "NO-SHOW"
    assert rows["P3"]["Status_Consolidado"] == "CANCELAMENTO_TARDIO"
    assert rows["P4"]["Status_Consolidado"] == "CANCELADO"
    assert rows["P5"]["Status_Consolidado"] == "AGENDADO"
    assert rows["P6"]["Status_Consolidado"] == "ATENDIDO"


def test_price_join_currency_and_nulls(outputs):
    tables, _, _ = outputs
    rows = {r["ID_Paciente_Anon"]: r for r in tables["base_tratada_completa"].collect()}
    # 'consulta  geral'/'PLANO A' matched 'Consulta Geral'/'Plano Á'
    # through normalize_key; 'R$ 1.234,56' parsed decimal-comma
    assert rows["P1"]["Valor"] == 1234.56
    assert rows["P4"]["Valor"] == 200.0
    assert rows["P6"]["Valor"] == 0.0  # unmatched → fillna(0)
    assert rows["P3"]["Pacientes_Sexo"] == "Indefinido"  # null fill
    assert rows["P1"]["is_novo"] is True and rows["P2"]["is_novo"] is False
    assert rows["P1"]["Faixa_Etaria"] == "18-39"
    assert rows["P2"]["Faixa_Etaria"] == "60+"
    assert rows["P4"]["Faixa_Etaria"] == "Indefinido"  # null birth date
    # late-cancel window: r3 11h (<24) tardio, r4 120h not
    assert rows["P3"]["cancelamento_tardio"] is True
    assert rows["P4"]["cancelamento_tardio"] is False


def test_aggregates_hand_computed(outputs):
    tables, _, _ = outputs
    # agenda_comparecimento covers the FULL base incl. AGENDADO
    dia = {str(r["Data_Agendamento"]): r for r in tables["agenda_comparecimento"].collect()}
    assert dia["2025-05-10"]["total_agendado"] == 1
    assert dia["2025-05-10"]["taxa_realizacao_%"] == 100.0
    assert dia["2025-05-15"]["taxa_no_show_%"] == 100.0
    assert dia["2025-06-20"]["total_realizado"] == 0

    fin = {(r["Unidade"], r["Procedimento"]): r for r in tables["financeiro"].collect()}
    r = fin[("U1", "consulta  geral")]
    assert (r["qtde_realizados"], r["receita_realizada"]) == (1, 1234.56)
    assert fin[("U2", "Raio-X Tórax")]["receita_perdida_cancelado"] == 200.0

    atrav = {(r["Unidade"], r["ID_Medico_Anon"]): r for r in tables["atravessamento"].collect()}
    # P1: chegada 08:55 → final 09:40 = 45min total, espera 15min,
    # pontualidade +10min (<=15 → no horário)
    r = atrav[("U1", "DR X")]
    assert (r["tempo_medio_total_min"], r["tempo_medio_espera_min"]) == (45.0, 15.0)
    assert r["taxa_pontualidade_%"] == 100.0
    # P6: atendimento 10:30 vs sched 10:00 → +30min late
    assert atrav[("U2", "DR Y")]["taxa_pontualidade_%"] == 0.0

    kpis = {r["indicador"]: r for r in tables["indicadores_confirmacao"].collect()}
    assert kpis["Total Agendamentos"]["quantidade"] == 6
    assert kpis["Atendimentos Realizados"]["quantidade"] == 2
    assert kpis["Cancelamentos"]["quantidade"] == 2

    # past rows = all non-AGENDADO (P1,P2,P3,P4,P6) → 1 novo, 4 recorrentes
    flux = {r["tipo_paciente"]: r for r in tables["fluxo_pacientes_agregado"].collect()}
    assert flux["Novo"]["quantidade"] == 1 and flux["Recorrente"]["quantidade"] == 4
    assert flux["Novo"]["percentual_%"] == 20.0


def test_occupancy_join_and_capacity_rates(outputs):
    tables, _, _ = outputs
    pa = {
        (r["Unidade"], r["ID_Medico_Anon"], r["Procedimento"]): r
        for r in tables["perfil_agenda"].collect()
    }
    # 'DR X' matched occupancy 'dr  x' via normalize_key → capacity 10
    r = pa[("U1", "DR X", "consulta  geral")]
    assert r["qtde_horarios_disponiveis"] == 10
    assert r["taxa_ocupacao_%"] == 10.0  # 1/10
    # capacity 4 for DR Y
    assert pa[("U2", "DR Y", "Procedimento Raro")]["qtde_horarios_disponiveis"] == 4


def test_profile_and_quality_outputs(outputs):
    tables, _, _ = outputs
    perf = tables["perfil_noshow"].collect()
    dims = {r["dimensao"] for r in perf}
    assert dims == {"Sexo", "Faixa_Etaria", "Indicacao"}
    sexo_m = [r for r in perf if r["dimensao"] == "Sexo" and r["valor_dimensao"] == "M"]
    assert sexo_m[0]["No-Show"] == 1
    # 'Indefinido' values excluded per dimension
    assert not [r for r in perf if r["valor_dimensao"] == "Indefinido"]

    qual = {r["campo"]: r for r in tables["qualidade_dados"].collect()}
    assert qual["Pacientes_Sexo"]["registros_vazios"] == 1  # the filled 'Indefinido'
    assert qual["Valor"]["registros_vazios"] == 0
    assert "Categoria_Servico_Limpa" not in qual  # absent col skipped


def test_outputs_written_and_csv_dialect(outputs, spark):
    tables, out_dir, _ = outputs
    import glob

    # parquet outputs readable
    df = spark.read.parquet(str(out_dir / "financeiro.parquet"))
    assert df.count() == len(tables["financeiro"].collect())
    # PBI CSV dialect: ';' separator, decimal comma
    part = glob.glob(str(out_dir / "agenda_comparecimento.csv_dir" / "part-*.csv"))[0]
    text = open(part).read()
    assert ";" in text.splitlines()[0]
    assert "100,00" in text or "100,0" in text  # decimal comma rendering


def test_outputs_derive_from_written_parquet(outputs, spark):
    """The ingest lineage runs once: every returned table scans the
    Parquet written under out_dir (never the base CSV or the price
    file), and each CSV export agrees with its Parquet."""
    import glob
    import os
    from urllib.parse import urlparse

    tables, out_dir, _ = outputs
    root = os.path.realpath(out_dir) + os.sep
    inputs = {
        os.path.realpath(out_dir.parent / "base_anonima_final.csv"),
        os.path.realpath(out_dir.parent / "TabelaConvenio.txt"),
    }
    for name, df in tables.items():
        files = [os.path.realpath(urlparse(f).path) for f in df.inputFiles()]
        assert files, name
        assert all(f.startswith(root) for f in files), (name, files)
        assert not inputs & set(files), name

        n_parquet = spark.read.parquet(str(out_dir / f"{name}.parquet")).count()
        n_csv = (
            spark.read.option("sep", ";").option("header", True)
            .csv(str(out_dir / f"{name}.csv_dir")).count()
        )
        assert n_csv == n_parquet, name

    part = glob.glob(str(out_dir / "financeiro.csv_dir" / "part-*.csv"))[0]
    with open(part, encoding="utf-8") as fh:
        row = [ln for ln in fh if ln.startswith("U1;consulta  geral;")]
    assert len(row) == 1 and "1234,56" in row[0].split(";")


def test_review_regressions(spark):
    """Regression pins for review findings: null-doctor rows survive the
    blacklist; numeric price files are not decimal-munged; null schedule
    dates don't emit a null group row."""
    import datetime as dt

    import pyspark.sql.functions as F

    from hubsit_health_analytics_etl_spark.etl.appointments import (
        agenda_comparecimento,
        preprocess,
    )

    base = spark.createDataFrame(
        [
            ("U1", "Proc", "Conv", None, "P1", "2025-05-10 09:00:00", None, None),
            ("U1", "Proc", "Conv", "DR BLOCK", "P2", "2025-05-10 09:00:00", None, None),
            ("U1", "Proc", "Conv", "DR OK", "P3", None, None, None),
        ],
        "Unidade string, Procedimento string, Convenio string, ID_Medico_Anon string, "
        "ID_Paciente_Anon string, `Agendamento Inicio` string, "
        "Cancelamentos_DataDeCancelamento string, Confirmacoes_Data_Confirmacao string",
    ).withColumns(
        {
            "Agendamento Inicio": F.col("Agendamento Inicio").cast("timestamp_ntz"),
            "Cancelamentos_DataDeCancelamento": F.col(
                "Cancelamentos_DataDeCancelamento"
            ).cast("timestamp_ntz"),
            "Confirmacoes_Data_Confirmacao": F.col("Confirmacoes_Data_Confirmacao").cast(
                "timestamp_ntz"
            ),
            "Atendimentos_DataEHora_Chegada": F.lit(None).cast("timestamp_ntz"),
            "Atendimentos_DataEHora_Atendimento": F.lit(None).cast("timestamp_ntz"),
            "Atendimentos_DataEHora_Final": F.lit(None).cast("timestamp_ntz"),
        }
    )
    # numeric price table (double Valor_Convenio) — must pass through
    precos = spark.createDataFrame(
        [("Proc", "Conv", 150.5)],
        "Procedimento string, Convenio string, Valor_Convenio double",
    )
    fact = preprocess(base, precos, as_of=dt.datetime(2025, 6, 1), blacklist=("dr block",))
    rows = {r["ID_Paciente_Anon"]: r for r in fact.collect()}
    assert set(rows) == {"P1", "P3"}          # null doctor kept, blocked dropped
    assert rows["P1"]["Valor"] == 150.5        # NOT 1505.0
    dia = agenda_comparecimento(fact).collect()
    assert all(r["Data_Agendamento"] is not None for r in dia)  # null key dropped
