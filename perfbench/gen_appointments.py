"""Seeded synthetic appointment base for the ``etl_appointments`` workload.

Writes the three inputs ``etl.appointments.run_pipeline`` takes, in the
reference's dialects:

- ``base_anonima_final.csv``: 17 columns, ``;``-separated, latin1,
  ``dd/MM/yyyy HH:mm`` day-first timestamps, blank cells for missing
  values (same layout as tests/test_appointments_pipeline.py);
- ``TabelaConvenio.txt``: headerless ``procedure;plan;R$ 1.234,56``
  price table with accented keys (they match the base only through
  ``normalize_key``), latin1;
- ``OcupacaoAgenda.csv``: per-doctor capacity with a header, utf-8.

One doctor (``BLACKLISTED_DOCTOR``) must be dropped by the pipeline's
blacklist, some rows use a plan missing from the price table (price 0),
and every branch of the status machine occurs. The generator also returns
the status each row must end with, computed here from the scenario it
drew, so the output checks have an independent expectation.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from collections import Counter

AS_OF = dt.datetime(2025, 6, 1, 0, 0, 0)
BLACKLISTED_DOCTOR = "DR BLOCK"
BLACKLIST = ("dr block",)

HEADER = [
    "Unidade", "Procedimento", "Convenio", "ID_Medico_Anon", "ID_Paciente_Anon",
    "Categoria_Servico", "Agendamento Inicio", "Data_Marcacao", "Pacientes_Sexo",
    "Pacientes_DataNascimento", "Pacientes_DataRegistro", "Pacientes_Indicacao",
    "Confirmacoes_Data_Confirmacao", "Atendimentos_DataEHora_Chegada",
    "Atendimentos_DataEHora_Atendimento", "Atendimentos_DataEHora_Final",
    "Cancelamentos_DataDeCancelamento",
]

UNITS = ["Unidade Centro", "Unidade Norte", "Unidade Sul", "Unidade Leste"]
# (spelling in the base, spelling in the price table, category, cents)
PROCEDURES = [
    ("consulta  geral", "Consulta Geral", "Consulta", 25000),
    ("Raio-X Tórax", "RAIO-X TORAX", "Exame", 118040),
    ("Ultrassonografia Abdômen", "Ultrassonografia Abdomen", "Exame", 32075),
    ("Eletrocardiograma", "eletrocardiograma", "Exame", 9510),
    ("Sessão de Fisioterapia", "Sessao de Fisioterapia", "Terapia", 14000),
]
# (spelling in the base, spelling in the price table or None = unpriced)
PLANS = [
    ("PLANO A", "Plano Á"),
    ("Plano Saúde Mais", "PLANO SAUDE MAIS"),
    ("particular", "Particular"),
    ("Plano Z", None),
]
REFERRALS = ["Google", "Indicacao Medica", "Site", "Instagram"]
DOCTORS = [f"DR {i:02d}" for i in range(1, 25)]

# scenario → the status run_pipeline must assign to it
SCENARIOS = {
    "attended": "ATENDIDO",
    "no_show": "NO-SHOW",
    "late_cancel": "CANCELAMENTO_TARDIO",
    "cancel": "CANCELADO",
    "scheduled": "AGENDADO",
}
_WEIGHTS = [0.50, 0.15, 0.08, 0.12, 0.15]


def _money(cents: int) -> str:
    """'R$ 1.234,56': thousands dot, decimal comma."""
    whole = f"{cents // 100:,}".replace(",", ".")
    return f"R$ {whole},{cents % 100:02d}"


def _fmt(t: dt.datetime | None) -> str:
    return "" if t is None else t.strftime("%d/%m/%Y %H:%M")


def _row(rng: random.Random) -> tuple[list[str], str, bool]:
    scenario = rng.choices(list(SCENARIOS), _WEIGHTS)[0]
    blacklisted = rng.random() < 0.02
    doctor = BLACKLISTED_DOCTOR if blacklisted else rng.choice(DOCTORS)
    proc, _, category, _ = rng.choice(PROCEDURES)
    plan = rng.choice(PLANS)[0]
    minute = rng.choice([0, 15, 30, 45])
    # past visits fall before AS_OF, future ones (scheduled / cancelled
    # ahead of time) after it: a cancelled past visit without arrival is
    # a no-show by the status machine's priority
    if scenario in ("attended", "no_show"):
        day = AS_OF - dt.timedelta(days=rng.randint(1, 150))
    else:
        day = AS_OF + dt.timedelta(days=rng.randint(1, 60))
    start = day.replace(hour=rng.randint(7, 19), minute=minute)
    booked = start - dt.timedelta(days=rng.randint(1, 40), hours=rng.randint(0, 8))
    new_patient = rng.random() < 0.3
    registered = (
        booked.replace(hour=8, minute=0)
        if new_patient
        else booked - dt.timedelta(days=rng.randint(30, 2000))
    )
    birth = (
        None
        if rng.random() < 0.05
        else dt.datetime(rng.randint(1935, 2020), rng.randint(1, 12), rng.randint(1, 28))
    )
    confirmed = (
        start - dt.timedelta(days=1, hours=rng.randint(0, 5))
        if rng.random() < 0.6
        else None
    )
    arrival = care = end = cancelled = None
    if scenario == "attended":
        arrival = start + dt.timedelta(minutes=rng.randint(-30, 20))
        care = arrival + dt.timedelta(minutes=rng.randint(0, 40))
        end = care + dt.timedelta(minutes=rng.randint(10, 60))
    elif scenario == "late_cancel":
        cancelled = start - dt.timedelta(hours=rng.randint(1, 23))
    elif scenario == "cancel":
        cancelled = start - dt.timedelta(hours=rng.randint(25, 400))
    sex = rng.choice(["F", "M", "F", "M", ""])
    referral = rng.choice(REFERRALS + [""])
    cells = [
        rng.choice(UNITS), proc, plan, doctor, f"P{rng.randint(1, 10**6):07d}",
        category, _fmt(start), _fmt(booked), sex, _fmt(birth), _fmt(registered),
        referral, _fmt(confirmed), _fmt(arrival), _fmt(care), _fmt(end),
        _fmt(cancelled),
    ]
    return cells, SCENARIOS[scenario], blacklisted


def generate(out_dir: str, rows: int, seed: int) -> dict:
    """Write the three input files under ``out_dir`` and return their
    paths plus the expected outcome: ``status_counts`` (status →
    surviving rows), ``kept`` (rows that survive the blacklist) and
    ``rows`` (rows written)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    expected: Counter = Counter()
    lines = [";".join(HEADER)]
    for _ in range(rows):
        cells, status, blacklisted = _row(rng)
        lines.append(";".join(cells))
        if not blacklisted:
            expected[status] += 1
    base = os.path.join(out_dir, "base_anonima_final.csv")
    with open(base, "w", encoding="latin1", newline="\n") as f:
        f.write("\n".join(lines) + "\n")

    prices = os.path.join(out_dir, "TabelaConvenio.txt")
    with open(prices, "w", encoding="latin1", newline="\n") as f:
        for _, proc_key, _, cents in PROCEDURES:
            for i, (_, plan_key) in enumerate(PLANS):
                if plan_key is not None:
                    # each plan pays its own price for a procedure
                    f.write(f"{proc_key};{plan_key};{_money(cents + i * 1537)}\n")

    occupancy = os.path.join(out_dir, "OcupacaoAgenda.csv")
    with open(occupancy, "w", encoding="utf-8", newline="\n") as f:
        f.write("Nome_Medico;qtde_horarios_disponiveis\n")
        for i, doc in enumerate(DOCTORS):
            # spacing/case differ from the base: joined via normalize_key
            f.write(f"{doc.lower().replace(' ', '  ')};{40 + (i * 7 + seed) % 60}\n")
    return {
        "base": base,
        "prices": prices,
        "occupancy": occupancy,
        "rows": rows,
        "kept": sum(expected.values()),
        "status_counts": dict(expected),
    }
