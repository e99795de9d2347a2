"""Shell entry point — the replacement for
``python src/etl_pipeline.py [base.csv precos.txt]``
(/root/reference/src/etl_pipeline.py:692-712).

Same positional contract and defaults as the reference ``main()``;
prints the five formatted analysis reports, then writes the nine
aggregate outputs (Parquet + Power-BI CSV dialect)::

    python -m hubsit_health_analytics_etl_spark [base.csv precos.txt] \\
        [-o OUT_DIR] [--as-of 2025-06-01T00:00:00] [--ocupacao F.csv] \\
        [--blacklist "dr x" --blacklist "dr y"] [--no-csv] [--quiet]

``--as-of`` pins the reference's ``datetime.now()`` (:169) for
reproducible runs; omitted, it defaults to the wall clock at this —
deliberately impure — CLI edge. The library itself never reads the
clock.
"""

from __future__ import annotations

import argparse
import datetime as dt
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m hubsit_health_analytics_etl_spark",
        description="Appointment ETL: tolerant CSV ingest -> preprocess -> "
        "reports + nine Power-BI aggregate outputs.",
    )
    # etl_pipeline.py:694-697 — argv pair with the same defaults
    p.add_argument("base_csv", nargs="?", default="base_anonima_final.csv")
    p.add_argument("precos_txt", nargs="?", default="TabelaConvenio.txt")
    p.add_argument("-o", "--output-dir", default="data/processed")
    p.add_argument(
        "--as-of",
        type=dt.datetime.fromisoformat,
        default=None,
        help="'now' for the status machine (ISO-8601); default: wall clock",
    )
    p.add_argument("--ocupacao", default=None, help="optional occupancy CSV")
    p.add_argument(
        "--blacklist", action="append", default=[], help="doctor to drop (repeatable)"
    )
    p.add_argument(
        "--no-csv", action="store_true", help="write Parquet only (skip PBI CSVs)"
    )
    p.add_argument("--quiet", action="store_true", help="skip the stdout reports")
    p.add_argument("--master", default="local[*]", help="Spark master URL")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    from .etl.appointments import run_pipeline
    from .etl.relatorio import gerar_relatorio_completo
    from .session import get_spark

    spark = get_spark(master=args.master)
    spark.sparkContext.setLogLevel("ERROR")

    print(f"\nGerando tabelas otimizadas em '{args.output_dir}'...")
    tables = run_pipeline(
        spark,
        args.base_csv,
        args.precos_txt,
        args.output_dir,
        as_of=args.as_of or dt.datetime.now(),
        ocupacao_path=args.ocupacao,
        blacklist=tuple(args.blacklist),
        csv_export=not args.no_csv,
    )
    if not args.quiet:
        # the report reads the written fact Parquet (the first pipeline
        # output), not the CSV ingest lineage
        print(gerar_relatorio_completo(tables["base_tratada_completa"]))
    print(
        "\n[SUCESSO] Todas as tabelas agregadas foram geradas na pasta "
        f"'{args.output_dir}'."
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
