"""Drop-in CLI with the reference binary's surface (src/main.rs:22-81):

    ophois format                        →  python -m ophois_spark format
    ophois extract [-s SEP]              →  python -m ophois_spark extract [-s SEP]
    ophois simplify [-s SEP] -d DELTA    →  python -m ophois_spark simplify -d DELTA
    ophois discretize [-s SEP] -d DELTA  →  python -m ophois_spark discretize -d DELTA
    ophois download -c CITY              →  python -m ophois_spark download -c CITY

Same pipe contract as the reference: ``download | format | extract |
simplify`` composes on stdin/stdout. ``format`` and ``extract`` are
pure-Python kernel streams (no JVM for the light stages — same cost
profile as piping through the reference binary); ``simplify`` /
``discretize`` start a local SparkSession, run the engine operators in
the reference's order, write the ``ophois_metrics/{name}_{param}``
files (src/metrics.rs:8-24) and print the graph in ``Graph::show``
format. ``download`` emits the deterministic synthetic map XML for the
named city (seeded tile of ``sources/pages.py``) — the in-sandbox
replacement for the reference's Overpass network fetch
(src/overpass.rs:4-19), same downstream format.
"""

from __future__ import annotations

import argparse
import sys
from collections.abc import Iterable

from ophois_spark import SEPARATOR


def cli_format(lines: Iterable[str]) -> list[str]:
    from ophois_spark.kernels.osmxml import format_lines

    return format_lines(list(lines))


def cli_extract(lines: Iterable[str], separator: str = SEPARATOR) -> list[str]:
    """Per-line extract over ALREADY-formatted lines (the reference's
    ``extract`` assumes ``format`` ran upstream, src/main.rs:62-65);
    same dispatch kernel as the fused ``extract_records`` path."""
    from ophois_spark.kernels.osmxml import extract_line

    out: list[str] = []
    for line in lines:
        out.extend(extract_line(line, separator))
    return out


def cli_download(city: str, grid: int = 12) -> str:
    import hashlib

    from ophois_spark.sources.pages import page_xml

    h = int(hashlib.md5(city.encode()).hexdigest()[:8], 16)
    return page_xml(h % 7, (h // 7) % 7, grid)


def _param(prefix: str, delta: float) -> str:
    # the reference formats the metrics param with Rust {}: 10.0 → "10"
    from ophois_spark.kernels.floatfmt import format_f64

    return f"{prefix}={format_f64(delta)}"


def cli_simplify(
    spark, lines: list[str], delta: float, separator: str = SEPARATOR,
    metrics_dir: str = "./ophois_metrics",
) -> list[str]:
    from ophois_spark.operators.metrics import write_metrics
    from ophois_spark.pipeline import simplify
    from ophois_spark.sources.graph_io import graph_from_lines, show_records

    g, _ = simplify(spark, graph_from_lines(spark, lines, separator), delta)
    write_metrics(g, _param("simplify", delta), metrics_dir)
    return [r["line"] for r in show_records(g, separator).collect()]


def cli_discretize(
    spark, lines: list[str], delta: float, separator: str = SEPARATOR,
    metrics_dir: str = "./ophois_metrics",
) -> list[str]:
    from ophois_spark.operators.metrics import write_metrics
    from ophois_spark.pipeline import discretize_pipeline
    from ophois_spark.sources.graph_io import graph_from_lines, show_records

    g, _ = discretize_pipeline(spark, graph_from_lines(spark, lines, separator), delta)
    write_metrics(g, _param("discretize", delta), metrics_dir)
    return [r["line"] for r in show_records(g, separator).collect()]


def _spark():
    from ophois_spark.session import get_spark

    s = get_spark("ophois-cli")
    s.sparkContext.setLogLevel("ERROR")
    return s


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="ophois_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)
    sub.add_parser("format")
    for name in ("extract", "simplify", "discretize"):
        p = sub.add_parser(name)
        p.add_argument("-s", "--separator", default=SEPARATOR)
        if name != "extract":
            p.add_argument("-d", "--delta", type=float, required=True)
    dl = sub.add_parser("download")
    dl.add_argument("-c", "--city", required=True)
    args = ap.parse_args(argv)

    if args.cmd == "download":
        print(cli_download(args.city))
        return 0
    lines = [ln.rstrip("\n") for ln in sys.stdin]
    if args.cmd == "format":
        out = cli_format(lines)
    elif args.cmd == "extract":
        out = cli_extract(lines, args.separator)
    elif args.cmd == "simplify":
        out = cli_simplify(_spark(), lines, args.delta, args.separator)
    else:
        out = cli_discretize(_spark(), lines, args.delta, args.separator)
    for line in out:
        print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
