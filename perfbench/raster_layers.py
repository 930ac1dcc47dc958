"""Traced probes of the raster ETL layers, run on ``zonal_docs``' raster.

The chain a raster ETL job runs: read the raster from the tile store
(``sources.io.read_raster``), NN-fill (``extrapolate``), ``blur`` with NaN
preservation, ``dilate``, ``resample`` to twice the cell size, and write the
result back (``sources.io.write_raster``). Each layer is called once on a
checkpointed input and forced on its own by a noop write, so its span times
that layer alone.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from rastr_spark.operators.resample import resample
from rastr_spark.operators.stencils import blur, dilate, extrapolate
from rastr_spark.sources.io import read_raster, write_raster
from rastr_spark.tiles import RasterFrame

from harness import Tracer, dir_bytes_files, noop_write


def _materialize(rf: RasterFrame) -> RasterFrame:
    return RasterFrame(rf.df.localCheckpoint(eager=True), rf.meta, rf.raster_id)


def probe(tr: Tracer, store: Path, out: Path) -> dict[str, float]:
    """``store`` holds the input raster; ``out`` receives the written result."""
    spark = tr.spark
    with tr.span("sources.io.read_raster") as s_read:
        src = read_raster(spark, store)
        noop_write(src.df)
    src = _materialize(src)
    cell = src.meta.cell_size
    with tr.span("operators.stencils.extrapolate") as s_ext:
        noop_write(extrapolate(src).df)
    with tr.span("operators.stencils.blur") as s_blur:
        blurred = blur(src, 2 * cell, preserve_nan=True)
        noop_write(blurred.df)
    blurred = _materialize(blurred)
    with tr.span("operators.stencils.dilate") as s_dil:
        dilated = dilate(blurred, 2 * cell)
        noop_write(dilated.df)
    dilated = _materialize(dilated)
    with tr.span("operators.resample.resample") as s_res:
        res = resample(dilated, 2 * cell)
        noop_write(res.df)
    res = _materialize(res)
    with tr.span("sources.io.write_raster") as s_write:
        write_raster(res, out)
    n_bytes, n_files = dir_bytes_files(out / "tiles")
    shutil.rmtree(out, ignore_errors=True)
    tr.attach_stage_counters()
    return {
        "sources.io.read_raster.s": s_read.duration,
        "operators.stencils.extrapolate.s": s_ext.duration,
        "operators.stencils.blur.s": s_blur.duration,
        "operators.stencils.dilate.s": s_dil.duration,
        "operators.stencils.halo_shuffle_bytes": (
            s_blur.spark["spark.shuffle_write_bytes"] + s_dil.spark["spark.shuffle_write_bytes"]
        ),
        "operators.resample.resample.s": s_res.duration,
        "sources.io.write_raster.s": s_write.duration,
        "sources.io.write_raster.bytes": n_bytes,
        "sources.io.write_raster.files": n_files,
        "sources.io.store_bytes_per_cell": n_bytes / (res.meta.height * res.meta.width),
    }
