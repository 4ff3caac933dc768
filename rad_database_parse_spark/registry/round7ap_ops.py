"""Round-7ap operator: the REAL PDF lattice-extraction pipeline as a
driver-checked query.

Parity contract as everywhere (registry/__init__.py float policy) —
except the oracle here is a pinned VALUES table: DuckDB cannot parse
PDFs, and the golden per-file row counts ARE the reference's own output
(BASELINE.md per-file distribution, queried from the reference main.db
and reproduced mechanically by this engine — see
tests/test_pdf_real_extractor.py for the field-exact proof on 2006 and
tests/test_pdf_lattice_goldens.py for the per-file sweep).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from . import register

_DOCS_DIR = "/root/reference/docs"
# files whose reference row counts reproduce MECHANICALLY (the other
# generations passed through the reference's manual CSV gate, so their
# counts are not a pure function of the PDF bytes), keyed by the
# validity regime their main.db load ran under (see
# operators/rad_pipeline.reference_rad_rows: main.db was built
# incrementally, and 2016's ''-valued fields prove its load used
# --csv_bypass, whose only row gate is the density >= 0.5 check)
_GOLDEN_STRICT = {
    "2006-nasa-compendium.pdf": 28,
    "2011-nasa-compendium.pdf": 91,
    "2015-nasa-compendium.pdf": 64,
    "2017-nasa-compendium.pdf": 16,
}
_GOLDEN_DENSITY = {
    "2016-nasa-compendium.pdf": 67,
}

_VALUES = ",\n      ".join(
    f"('{name}', CAST({n} AS BIGINT))"
    for name, n in sorted({**_GOLDEN_STRICT, **_GOLDEN_DENSITY}.items())
)


@register(
    "pdf_real_lattice_goldens",
    f"""
    SELECT * FROM (VALUES
      {_VALUES}) AS t(doc_filename, n_rows)
    ORDER BY doc_filename
    """,
    inputs=(_DOCS_DIR,),
)
def pdf_real_lattice_goldens(spark: SparkSession, sf_dir: str):
    """A1→A14 end-to-end on REAL reference PDFs: binaryFile scan →
    pure-Python lattice extraction (sources/pdf_lattice.py, inside the
    mapInPandas worker) → density gate → continuation merge → rad
    classification → per-table fuzzy header mapping → CSV-round-trip
    row validity → exact dedup (operators/rad_pipeline.py — the
    reference's tables.py get_all_tables + map_header/map_row +
    main.py:88-106 loader), aggregated to per-file row counts.

    The oracle pins the golden counts because the comparison target is
    the reference's own database, not a SQL re-derivation: 28/91/64/16
    are what the reference pipeline itself produced into main.db for
    the four strict-regime files, and 67 for 2016 under the
    --csv_bypass (density) regime its load demonstrably ran with —
    this engine reproduces all five from the raw PDF bytes (2006
    additionally matches all six mapped fields byte-for-byte —
    asserted in tests, where sqlite is available). Scale shape: one
    partition per file, extraction parallel across files, everything
    after the cell grid is Catalyst; the two regimes are two branches
    of one union (each file extracted once)."""
    from ..operators.rad_pipeline import reference_rad_rows

    def branch(golden: dict, validity: str):
        paths = [os.path.join(_DOCS_DIR, f) for f in sorted(golden)]
        files = spark.read.format("binaryFile").load(paths)
        return reference_rad_rows(spark, files, validity=validity)

    rows = branch(_GOLDEN_STRICT, "strict").unionByName(
        branch(_GOLDEN_DENSITY, "density")
    )
    return (
        rows.groupBy("doc_filename")
        .agg(F.count("*").cast("bigint").alias("n_rows"))
        .orderBy("doc_filename")
    )
