"""sparkval — a PySpark-native schema + constraint validation engine.

A from-scratch re-expression of imazen/butteraugli's capabilities
(multi-scale perceptual distance, golden-test discipline, warm-reference
precompute, bounded-memory strip execution) as a data-validation engine
over source-code corpus tables:

- per-partition column stats (null/length/entropy, KLL quantiles, HyperLogLog)
- uniqueness on (repo, path, commit)
- referential integrity commit -> repo
- distribution-drift checks: butteraugli's multi-scale psychovisual
  distance recast as a multi-resolution histogram distance (DoG band
  decomposition + Malta-like asymmetric penalty) over per-partition
  lang / length / byte-frequency distributions.

Reference: /root/reference (imazen/butteraugli, Rust). This is NOT a
port — the reference's execution machinery (SIMD, buffer pools, rayon)
maps onto Spark's own machinery (Arrow vectorization, Tungsten,
task parallelism); only the semantics carry over. See SURVEY.md.
"""

from sparkval.config import ValidationConfig
from sparkval.engine import CancellationToken, ValidationCancelled, ValidationEngine

__all__ = [
    "CancellationToken",
    "ValidationCancelled",
    "ValidationConfig",
    "ValidationEngine",
]
__version__ = "0.1.0"
