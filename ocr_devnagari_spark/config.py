"""Engine configuration.

The reference carries four overlapping config dataclasses (``processor.py:54-62``,
``backends/base.py:40-46``, ``async_processor.py:53-64``,
``multi_processor.py:52-61``). Here they collapse into one frozen dataclass;
runtime thresholds become literal column expressions in the plan.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field


@dataclass(frozen=True)
class ExtractConfig:
    """All knobs of the extraction pipeline.

    - ``confidence_threshold`` = 0.85: rows below it escalate to the precise
      path, as in the reference (``hybrid_backend.py:45``, hard-coded twice
      at ``base.py:34-37``).
    - ``num_partitions`` / ``salt_buckets`` / ``size_tier_bytes``: skew
      handling required by the north rule (heavy-tailed hosts and document
      sizes), no reference analog.

    Not knobs: the response-validation floor is
    ``extract_core.MIN_VALID_LENGTH`` (20, the reference's
    ``gemini_backend.py:115``) and the Arrow batch size is set once by
    ``session.get_spark``.
    """

    confidence_threshold: float = 0.85

    # Physical / partitioning knobs.
    num_partitions: int = 32
    salt_buckets: int = 8           # per-host salt fan-out for hot hosts
    size_tier_bytes: tuple = (4_096, 65_536, 1_048_576)  # html-size tier edges

    # Paths (tables live under ``root_dir``).
    root_dir: str = field(default_factory=lambda: os.environ.get(
        "OCRDS_ROOT", "/tmp/ocrds"))

    @property
    def extracted_table(self) -> str:
        return os.path.join(self.root_dir, "extracted")

    @property
    def lineage_table(self) -> str:
        return os.path.join(self.root_dir, "lineage")


DEFAULT_CONFIG = ExtractConfig()
