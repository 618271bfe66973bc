"""Command-line entry point — the Spark-native twin of the reference CLI
(ncagg/cli.py:152-227):

    python -m ncagg_spark DST SRC... [-i INDEX] [-z HZ] [-b BOUNDS]
                                     [-t TEMPLATE] [--anchor {grid,previous}]
    python -m ncagg_spark --generate-template SAMPLE [-i INDEX]

Flag mapping from the reference:
  -u udim:ivar[:hz]  ->  -i/--index + -z/--cadence-hz (one primary grain),
                         or repeatable -u/--grain INDEX[:HZ] for
                         multi-grain single-run aggregation (SURVEY.md
                         §1.2: every unlimited dim in one invocation,
                         sharing one scan)
  -b bounds          ->  -b/--bounds  YYYY[MM[DD[HH[MM]]]] or start:end
                         (partial-datetime inference per ncagg/cli.py:22-100)
  -c udim:chunk      ->  --max-records-per-file
  -t template.json   ->  -t/--template (JSON from --generate-template)

Sources may be files, directories, or globs; '-' reads a newline-separated
list from stdin (reference: get_src_from_stdin, ncagg/cli.py:123-149).
"""

from __future__ import annotations

import argparse
import json
import sys

from ncagg_spark.api import (
    aggregate,
    aggregate_nc,
    config_from_template,
    generate_template,
    load_template,
    template_columns,
)
from ncagg_spark.config import AggregationConfig
from ncagg_spark.functions.time import parse_partial_datetime
from ncagg_spark.session import get_spark


def _source_kinds(src: list[str]) -> set[str]:
    """Classify each source (file / glob / directory) as 'nc' or
    'parquet', resolving globs and peeking into directories so route
    selection sees what the reader will actually consume."""
    import glob as _glob
    import os

    kinds: set[str] = set()
    for s in src:
        matches = _glob.glob(s) if any(c in s for c in "*?[") else [s]
        for m in matches or [s]:
            if os.path.isdir(m):
                # a directory can hold both kinds — report each so the
                # mixed-source error fires instead of feeding parquet
                # bytes to the .nc decoder
                has_nc = bool(
                    _glob.glob(os.path.join(m, "*.nc"))
                    or _glob.glob(os.path.join(m, "*.nc4"))
                )
                has_pq = bool(_glob.glob(os.path.join(m, "*.parquet")))
                if has_nc:
                    kinds.add("nc")
                if has_pq or not has_nc:
                    kinds.add("parquet")
            else:
                kinds.add(
                    "nc" if m.endswith((".nc", ".nc4")) else "parquet"
                )
    return kinds


def parse_bounds(spec: str) -> tuple:
    """'YYYYMMDD' -> that period; 'A:B' -> [start(A), end(B))."""
    if ":" in spec:
        a, b = spec.split(":", 1)
        lo, _ = parse_partial_datetime(a)
        _, hi = parse_partial_datetime(b)
    else:
        lo, hi = parse_partial_datetime(spec)
    return lo, hi


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="ncagg-spark",
        description="Aggregate granule parquet files into one bounded, "
        "cadence-regularized, time-sorted dataset.",
    )
    p.add_argument("dst", nargs="?", help="output path (parquet directory)")
    p.add_argument("src", nargs="*", help="input files/dirs/globs, or - for stdin")
    p.add_argument("-i", "--index", help="index (event-time) column")
    p.add_argument("-z", "--cadence-hz", type=float, help="expected cadence (Hz)")
    p.add_argument(
        "--inner-hz", type=float, default=None,
        help="multidim index: -i names a 2-D (array) time variable; "
        "this is the inner-dimension cadence (the reference's "
        "-u udim:ivar:hz:hz second cadence). Ordering runs on the "
        "representative element; fills get synthesized arrays",
    )
    p.add_argument(
        "--inner-size", type=int, default=None,
        help="multidim index: inner array width (default: widest "
        "observed)",
    )
    p.add_argument(
        "-u", "--grain", action="append", metavar="INDEX[:HZ]",
        help="aggregate along this grain (repeatable; the reference's "
        "-u udim:ivar[:hz]). With N grains, one run writes "
        "DST/<index>/ per grain; each grain's scan reads only its "
        "own columns",
    )
    p.add_argument(
        "-b", "--bounds",
        help="YYYY[MM[DD[HH[MM]]]] or start:end partial datetimes",
    )
    p.add_argument("-t", "--template", help="JSON template (see --generate-template)")
    p.add_argument(
        "--anchor", choices=("grid", "previous"), default="grid",
        help="fill-timestamp anchoring mode",
    )
    p.add_argument(
        "--grid-phase", choices=("bound", "data"), default="bound",
        help="cadence-grid phase origin: 'bound' (slot k = min_bound + "
        "k*step, the oracle-checked default) or 'data' (grid anchored "
        "to the first real record's sub-step phase — the reference's "
        "effective behavior; with --anchor previous this reproduces "
        "the reference's grid slot-for-slot)",
    )
    p.add_argument("--max-records-per-file", type=int)
    p.add_argument("--num-files", type=int, help="output file count (1 = single file)")
    p.add_argument(
        "--partition-by-date", action="store_true",
        help="lay output out under dt=YYYY-MM-DD/ (partition pruning)",
    )
    p.add_argument(
        "--generate-template", metavar="SAMPLE",
        help="print a JSON template inferred from a sample granule and exit",
    )
    p.add_argument(
        "--record-dim", metavar="DIM",
        help=".nc sources only: promote this FIXED dimension to the "
        "record dimension (reference's type1/type3 remapping), or "
        "create it as a new unlimited dim holding the granule's "
        "dimensionless variables (the crota case)",
    )
    p.add_argument("--cpus", default=None, help="local[] parallelism override")
    p.add_argument(
        "--nc-format", choices=("classic", "netcdf4"), default=None,
        help="single-file .nc output container (default: classic; a DST "
        "ending in .nc4 implies netcdf4 — the reference's output format)",
    )
    p.add_argument(
        "--complevel", type=int, default=None, metavar="0-9",
        help="zlib level for netcdf4 output (the reference uses 7)",
    )
    p.add_argument(
        "-c", "--chunksize", metavar="[DIM:]N",
        help="netcdf4 output: records per chunk along the record "
        "dimension (the reference's -c udim:chunksize; the DIM: prefix "
        "is accepted and ignored — single-file output has one record "
        "dim)",
    )
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    if args.generate_template:
        spark = get_spark(app_name="ncagg-template", cpus=args.cpus)
        tpl = generate_template(
            spark, args.generate_template, index_by=args.index
        )
        print(json.dumps(tpl, indent=2))
        return 0

    if not args.dst or not args.src:
        print("error: DST and SRC required (or --generate-template)", file=sys.stderr)
        return 2

    src = list(args.src)
    if src == ["-"]:
        src = [line.strip() for line in sys.stdin if line.strip()]
        if not src:
            print("error: no sources on stdin", file=sys.stderr)
            return 2

    # output-format flags validate up front so EVERY route (including
    # the multi-grain early return) rejects silently-dropped flags
    nc_dst = args.dst.endswith(".nc") or args.dst.endswith(".nc4")
    fmt = args.nc_format or (
        "netcdf4" if args.dst.endswith(".nc4") else "classic"
    )
    if (args.complevel is not None or args.chunksize) and not (
        nc_dst and fmt == "netcdf4"
    ):
        # classic/parquet output has no compression or chunking knobs —
        # silently dropping the flags writes the wrong container
        print(
            "error: --complevel/-c require netCDF-4 output "
            "(use --nc-format netcdf4 or a DST ending in .nc4)",
            file=sys.stderr,
        )
        return 2
    # parse and range-check the netCDF-4 knobs before any Spark job: a
    # bad value otherwise surfaces only after the whole aggregate ran
    # (-c 0 even fell back to default chunking silently)
    rec_chunk = None
    if args.chunksize:
        n = args.chunksize.rsplit(":", 1)[-1]
        rec_chunk = int(n) if n.isdigit() else 0
        if rec_chunk < 1:
            print(
                f"error: -c/--chunksize wants [DIM:]N with N >= 1, got "
                f"{args.chunksize!r}",
                file=sys.stderr,
            )
            return 2
    if args.complevel is not None and args.complevel not in range(10):
        print(
            f"error: --complevel wants a zlib level 0-9, got "
            f"{args.complevel}",
            file=sys.stderr,
        )
        return 2
    if args.grain and nc_dst:
        print(
            "error: multi-grain (-u) writes one parquet dataset per "
            "grain; single-file .nc output is not supported with -u",
            file=sys.stderr,
        )
        return 2
    if args.grain and (args.inner_hz is not None or args.inner_size):
        print(
            "error: --inner-hz/--inner-size apply to the single-grain "
            "path (-i); the multi-grain -u path is scalar-index only",
            file=sys.stderr,
        )
        return 2

    if args.grain:
        import os

        from ncagg_spark.api import GrainSpec, aggregate_multi

        bounds = parse_bounds(args.bounds) if args.bounds else (None, None)
        grains: dict[str, GrainSpec] = {}
        for spec in args.grain:
            ix, _, hz = spec.partition(":")
            grains[ix] = GrainSpec(
                output=os.path.join(args.dst, ix),
                config=AggregationConfig(
                    index_by=ix,
                    cadence_hz=float(hz) if hz else None,
                    min_bound=bounds[0],
                    max_bound=bounds[1],
                    grid_phase=args.grid_phase,
                ),
                anchor=args.anchor,
            )
        spark = get_spark(app_name="ncagg-aggregate", cpus=args.cpus)
        written = aggregate_multi(
            spark,
            src,
            grains,
            max_records_per_file=args.max_records_per_file,
            num_files=args.num_files,
        )
        for name, g in grains.items():
            n = written[name].count()
            print(f"wrote {n} records to {g.output}", file=sys.stderr)
        return 0

    columns = None
    if args.template:
        tpl = load_template(args.template)
        cfg = config_from_template(tpl)
        columns = template_columns(tpl)
    elif args.index:
        cfg = AggregationConfig(index_by=args.index)
    else:
        print("error: need -i/--index or -t/--template", file=sys.stderr)
        return 2

    if args.cadence_hz is not None:
        cfg.cadence_hz = args.cadence_hz
    if args.bounds:
        lo, hi = parse_bounds(args.bounds)
        cfg.min_bound, cfg.max_bound = lo, hi
    if args.grid_phase != "bound":
        cfg.grid_phase = args.grid_phase

    spark = get_spark(app_name="ncagg-aggregate", cpus=args.cpus)
    # native .nc granules route through the NetCDF source (the
    # reference's own input format); parquet stays the default. A mixed
    # source list is an explicit error — silently routing .nc files to
    # the parquet reader fails later with an unrelated error.
    kinds = _source_kinds(src)
    if kinds == {"nc", "parquet"}:
        print(
            "error: mixed .nc and parquet sources — aggregate them "
            "separately (or convert one side)",
            file=sys.stderr,
        )
        return 2
    agg_fn = aggregate_nc if kinds == {"nc"} else aggregate
    extra_kwargs = {}
    if args.record_dim:
        if agg_fn is not aggregate_nc:
            print(
                "error: --record-dim applies to .nc sources only",
                file=sys.stderr,
            )
            return 2
        extra_kwargs["record_dim"] = args.record_dim
    parquet_dst = (
        args.dst.rsplit(".", 1)[0] + "_parquet" if nc_dst else args.dst
    )
    if args.inner_hz is not None:
        extra_kwargs["inner_hz"] = args.inner_hz
        if args.inner_size is not None:
            extra_kwargs["inner_size"] = args.inner_size
    out = agg_fn(
        spark,
        src,
        parquet_dst,
        cfg,
        anchor=args.anchor,
        max_records_per_file=args.max_records_per_file,
        num_files=args.num_files,
        partition_by_date=args.partition_by_date,
        columns=columns,
        **extra_kwargs,
    )
    if nc_dst:
        # DST ending in .nc/.nc4: single-file NetCDF export, the
        # reference's own output contract (one aggregate file)
        from ncagg_spark.sources.nc_granules import (
            write_nc_aggregate_streamed,
        )

        # multidim runs order by the representative scalar, not the
        # array index column itself
        export_ix = (
            f"{cfg.index_by}_rep"
            if args.inner_hz is not None
            else cfg.index_by
        )
        # the one single-file export, bounded driver memory for both
        # containers (netCDF-4 chunks land first, metadata after)
        write_nc_aggregate_streamed(
            out,
            args.dst,
            index_col=export_ix,
            fmt=fmt,
            record_chunksize=rec_chunk,
            compression=args.complevel,
        )
    n = out.count()
    print(f"wrote {n} records to {args.dst}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
