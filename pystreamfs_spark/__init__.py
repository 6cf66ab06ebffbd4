"""pystreamfs_spark — a from-scratch, PySpark-native feature-engineering engine.

Re-expresses the capabilities of the reference streaming feature-selection
harness (haugjo/pystreamfs v0.0.6) as bulk, leakage-free windowed computation
over tables of multi-turn transcripts:

- sessionize / stable ordering / tumbling count + time windows
- lag/lead, backfill (forward fill), rolling and strict-prefix frames
- point-in-time (as-of) joins
- per-entity ordered stateful folds (OFS / FSDS / EFS feature-weight kernels)
  as one partition scan (``mapInArrow``) over sorted Arrow batches — never
  per-row Python
- FSCR + Nogueira stability scores over per-window feature selections
- prequential (strict-prefix train) evaluation with NumPy classifiers
- per-partition lineage + metrics, checkpoint/resume ledger
- training-data pipeline ops: dedup (exact / MinHash-LSH / SimHash / n-gram
  Jaccard / embedding-cosine), ANN similarity search, text analysis

Design stance (SURVEY.md §7): declarative DataFrame plans for everything
stateless so Catalyst/AQE optimize them; Arrow UDFs only for the genuinely
order-dependent kernel folds.
"""

__version__ = "0.1.0"

from pystreamfs_spark.session import get_spark  # noqa: F401
