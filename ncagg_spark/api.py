"""Top-level programmatic API — the Spark-native equivalent of the
reference's ``aggregate(files, output, config=None)`` entry point
(ncagg/__init__.py:1-2, ncagg/aggregator.py:36-51) and its
``--generate_template`` schema-DDL path (ncagg/cli.py:103-117).

Lifecycle mapping (SURVEY.md §3): the reference's plan phase becomes an
unexecuted DataFrame composition (Catalyst is the planner); the execute
phase is one write action. Attribute reduction runs as its own tiny job
over the file manifest, exactly like the reference's finalize. As the
reference's result is its one output file, the aggregate entry points
return a scan of the rows written to ``output``, not the lineage that
built them: later actions read the sink instead of re-running decode,
dedup and gap-fill. The scan's columns have the lineage's names, types
and order, all nullable (as on any Parquet read). Its file list is fixed
when it is returned, so once ``output`` is overwritten its actions fail
with FILE_NOT_EXIST; read ``output`` again for the new rows.
"""

from __future__ import annotations

import json
from collections.abc import Sequence
from dataclasses import asdict, dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from ncagg_spark.config import AggregationConfig
from ncagg_spark.operators.regularize import regularize
from ncagg_spark.plans.attributes import reduce_attributes
from ncagg_spark.plans.manifest import build_manifest
from ncagg_spark.sources.granules import GRANULE_COL, read_granules
from ncagg_spark.sources.writer import write_aggregate


def _first_nc_file(spec: str) -> str:
    from ncagg_spark.sources.nc_granules import first_nc_file

    return first_nc_file(spec)


# Inputs at or below this many bytes take the small-build fast path in
# aggregate_nc (single-file output written by one in-order task, no
# range-sampling job) — the read-side mirror of the export writer's
# small-file path. 32 MiB ~ one shuffle block: anything smaller gains
# nothing from parallel output.
SMALL_INPUT_BYTES = 32 << 20


def _local_input_bytes(
    paths: Sequence[str], cap: int = 4096
) -> int | None:
    """Total size of the input set when it is cheaply knowable —
    local plain files, globs, or directories, up to ``cap`` entries.
    Returns None (caller keeps the parallel path) for anything else."""
    import glob as _glob
    import os

    total, n = 0, 0
    stack = list(paths)
    seen_dirs: set[str] = set()
    while stack:
        p = stack.pop()
        if not isinstance(p, str) or "://" in p:
            return None
        if any(ch in p for ch in "*?["):
            hits = _glob.glob(p)
            if not hits:
                return None
            stack.extend(hits)
            continue
        if os.path.isdir(p):
            # a directory symlink cycle (dir -> itself/ancestor) would
            # otherwise loop forever on the default num_files=None path:
            # bail to the parallel path on any revisit (ADVICE r8)
            real = os.path.realpath(p)
            if real in seen_dirs:
                return None
            seen_dirs.add(real)
            stack.extend(
                os.path.join(p, e) for e in os.listdir(p)
            )
            continue
        if not os.path.isfile(p):
            return None
        total += os.path.getsize(p)
        n += 1
        if n > cap:
            return None
    return total


def aggregate(
    spark: SparkSession,
    files: str | Sequence[str],
    output: str,
    config: AggregationConfig,
    *,
    anchor: str = "grid",
    max_records_per_file: int | None = None,
    num_files: int | None = None,
    partition_by_date: bool = False,
    columns: list[str] | None = None,
    inner_hz: float | None = None,
    inner_size: int | None = None,
    multidim_element: int = 0,
) -> DataFrame:
    """Aggregate granule parquet files into one bounded, regularized,
    time-sorted parquet dataset with reduced global attributes.

    ``columns`` projects the output to the template's declared variables
    (P1: template-minus-variable = drop). Columns the template declares
    but no granule carries come out as nulls (P4) — matching the
    reference's missing-variable fill semantics.

    ``inner_hz`` selects the multidim (2-D index) path: ``config.
    index_by`` names an array time column, ordering runs on its
    representative element, and fills carry synthesized inner-cadence
    arrays (the reference's ``-u udim:ivar:hz:hz``).

    Returns a scan of the rows written to ``output`` (see the module
    docstring): nullable columns, and stale once ``output`` is
    overwritten.
    """
    return _aggregate_df(
        spark,
        read_granules(spark, files),
        output,
        config,
        anchor=anchor,
        max_records_per_file=max_records_per_file,
        num_files=num_files,
        partition_by_date=partition_by_date,
        columns=columns,
        inner_hz=inner_hz,
        inner_size=inner_size,
        multidim_element=multidim_element,
    )


def aggregate_nc(
    spark: SparkSession,
    files: str | Sequence[str],
    output: str,
    config: AggregationConfig,
    *,
    anchor: str = "grid",
    decoder: str = "auto",
    record_dim: str | None = None,
    max_records_per_file: int | None = None,
    num_files: int | None = None,
    partition_by_date: bool = False,
    columns: list[str] | None = None,
    inner_hz: float | None = None,
    inner_size: int | None = None,
    multidim_element: int = 0,
) -> DataFrame:
    """``aggregate`` over native `.nc` granules — the reference's actual
    input format (it opens granules with netCDF4, ncagg/aggrelist.py:
    533-543; CF time decode at ncagg/aggregator.py:99-105).

    ``decoder="auto"`` handles both physical formats with pure-Python
    readers: classic CDF-1/2/5 (sources/netcdf3.py) and NetCDF-4/HDF5
    (sources/hdf5.py — verified against the reference's own fixture
    granules, tests/test_reference_fixtures.py). If the index variable
    carries a CF ``units`` attribute ("<unit> since <epoch>") and is
    numeric, it is decoded to TimestampType before the pipeline runs —
    the engine's internal index type.

    ``record_dim`` promotes a FIXED granule dimension to the record
    dimension (the reference's SFEU type1/type3 remapping), or — when
    the name is absent from the granule — creates a new unlimited dim
    carrying every dimensionless variable (the crota per-file-scalar
    case). See sources/nc_granules.py:_promote_record_dim.

    Returns a scan of the rows written to ``output``, as ``aggregate``
    does: exporting it (``write_nc_aggregate_streamed``) reads the
    Parquet sink, not the granules.
    """
    from ncagg_spark.functions.time import cf_to_timestamp
    from ncagg_spark.sources.nc_granules import (
        nc_attributes,
        read_nc_granules,
    )

    if isinstance(files, str):
        files = [files]
    # Small-build fast path (the read-side mirror of the export
    # writer's small-file path): when the whole input fits one shuffle
    # block, a parallel range-partitioned output is pure job overhead —
    # one in-order task writes the single file the reference's contract
    # expects, and the range-sampling job disappears. Only applied when
    # the caller left num_files unset; the measured floor past this is
    # Spark's plan+schedule latency (~1 s), documented in SCALE.md.
    if num_files is None:
        est = _local_input_bytes(files)
        if est is not None and est <= SMALL_INPUT_BYTES:
            num_files = 1
    index_sources = [
        config.index_by,
        *config.copy_from_alt.get(config.index_by, []),
    ]
    # the driver-side header probe needs ONE real file — the source list
    # may lead with a glob or directory (binaryFile accepts those).
    # Its units become CANONICAL: granules declaring a different CF
    # epoch/unit are re-expressed worker-side into these
    # (sources/nc_granules._reexpress_cf_units — the reference decodes
    # per file, ncagg/aggregator.py num2date), so one shared
    # cf_to_timestamp below is correct for every granule.
    var_attrs = nc_attributes(
        _first_nc_file(files[0]), decoder=decoder
    )["variables"]
    canon_units = {
        ix: (var_attrs.get(ix) or {}).get("units")
        for ix in index_sources
        if isinstance((var_attrs.get(ix) or {}).get("units"), str)
        and " since " in (var_attrs.get(ix) or {}).get("units")
    }
    df = read_nc_granules(
        spark, files, decoder=decoder, grain_of=config.index_by,
        record_dim=record_dim, canon_units=canon_units or None,
    )
    _cf_numeric = ("double", "float", "int", "bigint", "smallint", "tinyint")
    for ix, units in canon_units.items():
        if ix not in df.columns:
            continue
        dt = df.schema[ix].dataType
        if dt.typeName() in _cf_numeric:
            df = df.withColumn(ix, cf_to_timestamp(ix, units))
        elif (
            dt.typeName() == "array"
            and dt.elementType.typeName() in _cf_numeric
        ):
            # multidim (2-D) CF time: decode every inner element
            from pyspark.sql import functions as F

            df = df.withColumn(
                ix,
                F.transform(
                    F.col(ix), lambda v: cf_to_timestamp(v, units)
                ),
            )
    return _aggregate_df(
        spark,
        df,
        output,
        config,
        anchor=anchor,
        max_records_per_file=max_records_per_file,
        num_files=num_files,
        partition_by_date=partition_by_date,
        columns=columns,
        inner_hz=inner_hz,
        inner_size=inner_size,
        multidim_element=multidim_element,
    )


def _aggregate_df(
    spark: SparkSession,
    df: DataFrame,
    output: str,
    config: AggregationConfig,
    *,
    anchor: str = "grid",
    max_records_per_file: int | None = None,
    num_files: int | None = None,
    partition_by_date: bool = False,
    columns: list[str] | None = None,
    inner_hz: float | None = None,
    inner_size: int | None = None,
    multidim_element: int = 0,
) -> DataFrame:
    """`aggregate` core over an already-read granule DataFrame (must
    still carry GRANULE_COL) — shared with aggregate_multi's per-grain
    loop so all grains reuse one source relation.

    ``inner_hz`` enables the MULTIDIM (G8) index path — the reference's
    ``-u udim:ivar:hz:hz`` form where ``config.index_by`` names a 2-D
    (array) time variable: ordering/dedup/gap-fill run on the
    representative element (``<ivar>_rep``, kept in the output) and
    fill rows get synthesized inner-cadence arrays. ``inner_size``
    defaults to the widest observed array.

    Returns ``spark.read.schema(...).parquet(output)`` projected to the
    regularized columns: the rows written, with the lineage's column
    names, types and order, all nullable. The explicit schema skips
    Parquet schema inference (no extra job) and the projection drops the
    ``dt`` directory column of ``partition_by_date``. The file list is
    fixed here; once ``output`` is overwritten, read it again."""
    # validate BEFORE any projection adds declared-but-absent columns as
    # nulls (P4): a typo'd index_by must raise here, not silently drop
    # every row downstream
    config.validate_columns([c for c in df.columns if c != GRANULE_COL])

    array_index_col = None
    if inner_hz is not None:
        from dataclasses import replace as _replace

        from pyspark.sql import functions as F

        from ncagg_spark.operators.multidim import representative_index
        from ncagg_spark.operators.projection import coalesce_alternates

        array_index_col = config.index_by
        # the index's alternates must coalesce BEFORE the representative
        # is extracted — otherwise granules carrying the index under an
        # alternate name would yield rep=null and be silently dropped
        arr_alts = config.copy_from_alt.get(array_index_col, [])
        if arr_alts:
            df = coalesce_alternates(df, {array_index_col: arr_alts})
        rep_col = f"{array_index_col}_rep"
        df = df.withColumn(
            rep_col,
            representative_index(array_index_col, multidim_element),
        )
        config = _replace(
            config,
            index_by=rep_col,
            copy_from_alt={
                k: v
                for k, v in config.copy_from_alt.items()
                if k != array_index_col
            },
        )

    if columns:
        from pyspark.sql import functions as F

        existing = set(df.columns)
        cols = list(columns)
        needed_cols = [
            config.index_by,
            *config.copy_from_alt.get(config.index_by, []),
        ]
        if array_index_col is not None:
            needed_cols.append(array_index_col)
        for needed in needed_cols:
            if needed not in cols and needed in existing:
                cols.insert(0, needed)
        df = df.select(
            *[
                F.col(c) if c in existing else F.lit(None).alias(c)
                for c in cols
                if c != GRANULE_COL
            ],
            *( [F.col(GRANULE_COL)] if GRANULE_COL in existing else [] ),
        )

    attrs: dict[str, Any] = {}
    if config.attribute_strategies:
        manifest = build_manifest(
            df,
            config.index_by,
            file_col=GRANULE_COL,
            attr_cols=[
                a
                for a, s in config.attribute_strategies.items()
                if s not in ("static", "date_created", "time_coverage_start",
                             "time_coverage_end", "filename", "remove",
                             "first_input", "last_input", "input_count",
                             "ncagg_version")
                and a in df.columns
            ],
        )
        attrs = reduce_attributes(
            manifest,
            config.attribute_strategies,
            ctx={
                "min_bound": config.min_bound,
                "max_bound": config.max_bound,
                "output_path": output,
            },
        )

    if inner_hz is not None:
        from pyspark.sql import functions as F

        from ncagg_spark.operators.multidim import regularize_multidim

        if inner_size is None:
            widest = df.select(
                F.max(F.size(array_index_col)).alias("w")
            ).first()["w"]
            if widest is None or widest <= 0:
                raise ValueError(
                    f"cannot infer inner_size for {array_index_col!r}: "
                    "no non-empty index arrays in the input — pass "
                    "inner_size explicitly"
                )
            inner_size = int(widest)
        out = regularize_multidim(
            spark,
            df.drop(GRANULE_COL),
            config,
            array_index_col=array_index_col,
            inner_size=inner_size,
            inner_hz=inner_hz,
            element=multidim_element,
            anchor=anchor,
        )
    else:
        out = regularize(spark, df.drop(GRANULE_COL), config, anchor=anchor)
    write_aggregate(
        out,
        output,
        order_by=config.index_by,
        attributes=attrs or None,
        max_records_per_file=max_records_per_file,
        num_files=num_files,
        partition_by_date=partition_by_date,
    )
    # the rows just written, not the lineage: a later action (the .nc
    # export's persist + spec pass) reads the small sink instead of
    # re-running decode -> dedup -> gap-fill
    return (
        spark.read.schema(out.schema).parquet(output).select(*out.columns)
    )


@dataclass
class GrainSpec:
    """One grain (unlimited dim) of a multi-grain aggregation: where its
    output goes, its own AggregationConfig (index/cadence/bounds), and an
    optional column projection (the variables that live on this grain)."""

    output: str
    config: AggregationConfig
    columns: list[str] | None = None
    anchor: str = "grid"


def aggregate_multi(
    spark: SparkSession,
    files: str | Sequence[str],
    grains: dict[str, GrainSpec],
    *,
    max_records_per_file: int | None = None,
    num_files: int | None = None,
) -> dict[str, DataFrame]:
    """Aggregate every grain of one file set in a single run — the
    reference's multi-unlimited-dim mode (SURVEY §1.2; a file with dims
    ``report_time``/``obs_time``/... aggregates along each in one
    invocation, ncagg/aggregator.py:54-85 iterates config dims).

    Spark-first "single pass" is about bytes, not job count: each grain's
    write is its own action, but Catalyst column-pruning means grain G's
    scan reads only G's columns, so the N actions together read ≈ one
    full-width pass of the file set.

    Returns {grain name -> scan of the rows written to that grain's
    output}, as ``aggregate`` does.
    """
    src = read_granules(spark, files)
    return {
        name: _aggregate_df(
            spark,
            src,
            g.output,
            g.config,
            anchor=g.anchor,
            columns=g.columns,
            max_records_per_file=max_records_per_file,
            num_files=num_files,
        )
        for name, g in grains.items()
    }


# ---------------------------------------------------------------------------
# template generate / load (reference: Config.from_nc + --generate_template)
# ---------------------------------------------------------------------------


def generate_template(
    spark: SparkSession, sample_path: str, *, index_by: str | None = None
) -> dict[str, Any]:
    """Infer an editable JSON template from a sample granule: the output
    schema (from the parquet footer — the reference's dims/vars section)
    plus default aggregation settings (the sidecar half).

    Reference: Config.from_nc (ncagg/config.py:123-138); users edit the
    JSON then pass it back via the CLI -t flag. A `.nc` sample infers
    from the NetCDF header (classic format) instead of a parquet footer;
    a CF-units numeric time variable counts as an index candidate, since
    aggregate_nc decodes it to TimestampType before the pipeline runs.
    """
    if sample_path.endswith(".nc"):
        from ncagg_spark.sources.nc_granules import nc_attributes, nc_schema

        schema = nc_schema(sample_path)
        var_attrs = nc_attributes(sample_path)["variables"]
        ts_cols = [
            f.name
            for f in schema.fields
            if f.dataType.typeName() == "timestamp"
            or " since " in str((var_attrs.get(f.name) or {}).get("units"))
        ]
    else:
        schema = spark.read.parquet(sample_path).schema
        ts_cols = [
            f.name
            for f in schema.fields
            if f.dataType.typeName() == "timestamp"
        ]
    cfg = AggregationConfig(index_by=index_by or (ts_cols[0] if ts_cols else ""))
    return {
        "schema": json.loads(schema.json()),
        "aggregation": {
            k: v for k, v in asdict(cfg).items() if v not in (None, {}, [])
        },
    }


def config_from_template(template: dict[str, Any]) -> AggregationConfig:
    """Build an AggregationConfig from a template dict's aggregation
    section (reference: Config.from_dict, ncagg/config.py:95-108).
    Unknown keys are rejected — the cerberus-style validation surface.
    """
    agg = dict(template.get("aggregation", template))
    known = set(AggregationConfig.__dataclass_fields__)
    unknown = set(agg) - known
    if unknown:
        raise ValueError(f"unknown aggregation config keys: {sorted(unknown)}")
    if "index_by" not in agg:
        raise ValueError("aggregation config requires index_by")
    return AggregationConfig(**agg)


def template_columns(template: dict[str, Any]) -> list[str] | None:
    """Output column list declared by a template's schema section, or
    None when the template has no schema. Deleting a field from the
    template drops the variable from the output — the reference's
    template-minus-variable projection (README.md:353-355, P1)."""
    schema = template.get("schema")
    if not schema:
        return None
    return [f["name"] for f in schema.get("fields", [])]


def load_template(path: str) -> dict[str, Any]:
    with open(path) as f:
        return json.load(f)
