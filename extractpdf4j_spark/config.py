"""Frozen job configuration, shipped to executors with the extraction UDFs.

Mirrors the reference's parser builder/annotation config surface:

* pages selection           — BaseParser.java:61 (default "1"; our batch
                              pipeline defaults to "all" since a corpus job
                              extracts whole documents)
* stripText                 — BaseParser.java:67 (default true)
* lattice min cell          — LatticeParser.java:47-56 (20x10; the
                              300f dpi is the PDF render's, job.py --dpi)
* hybrid minScore           — HybridParser.java:51 (0.0)
* requiredHeaders           — OcrStreamParser.java:35 (empty)

The reference's ``System.exit`` paths on minScore/headers failures
(HybridParser.java:198-201, OcrStreamParser.java:69-72) become per-document
``status`` values in the metrics table — a Spark job must never die because
one document fails a gate.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, asdict

MODE_STREAM = "stream"
MODE_LATTICE = "lattice"
MODE_OCRSTREAM = "ocrstream"
MODE_HYBRID = "hybrid"


@dataclass(frozen=True)
class ExtractConfig:
    mode: str = MODE_HYBRID
    pages: str = "all"
    strip_text: bool = True
    min_score: float = 0.0
    min_cell_w: float = 20.0
    min_cell_h: float = 10.0
    required_headers: tuple[str, ...] = ()
    # Tesseract config parity with the reference's tess.* system
    # properties (Ocr.java:189-196): language ("eng", "eng+fra", ...),
    # page segmentation mode, and OCR engine mode
    tess_lang: str = "eng"
    tess_psm: int = 6
    tess_oem: int = 1
    # "auto" prefers real Tesseract when importable; "embedded" forces
    # the deterministic payload word-layer backend (reproducible runs,
    # and the ocrstream gate corpus whose rasters are blank)
    ocr_backend: str = "auto"
    # documented-but-unimplemented in the reference
    # (docs/advanced-usage/columns.md:42-46, table-areas.md:55-69 — no
    # implementation exists there); here they are working opt-ins:
    # explicit stream column boundaries (x positions, points), and
    # table regions (x1,y1,x2,y2 in points, origin bottom-left) that
    # confine the stream parser's glyphs
    columns: tuple[float, ...] = ()
    table_areas: tuple[tuple[float, float, float, float], ...] = ()

    def config_hash(self) -> str:
        """Stable hash recorded in per-partition lineage."""
        payload = json.dumps(asdict(self), sort_keys=True, default=str)
        return hashlib.sha256(payload.encode()).hexdigest()[:16]

    def strategies(self) -> tuple[str, ...]:
        if self.mode == MODE_HYBRID:
            return (MODE_STREAM, MODE_LATTICE, MODE_OCRSTREAM)
        return (self.mode,)


def spark_confs() -> dict[str, str]:
    """The session confs the package relies on, where they differ from
    Spark's defaults; every session builder applies them with
    ``SparkSession.builder.config(map=spark_confs())``. Session confs
    bind when a plan executes, so they are set once per session, never
    by a plan builder.

    * Arrow for pandas conversions.
    * Size-based AQE partition coalescing (AQE and coalescing are on by
      default): cuts scheduling and per-batch overhead for
      data-proportional operator work. ``pipeline.extract`` feeds its
      Python stages only from numbered exchanges, which AQE never
      coalesces.
    * One Arrow batch bound for every Python stage: 4096 records, and
      at most 4 MiB, which bounds a batch of raster payloads by size
      while small rows still batch by the thousand."""
    return {
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
        "spark.sql.execution.arrow.maxBytesPerBatch": "4m",
    }
