"""Engine configuration.

The reference carries four overlapping config dataclasses (``processor.py:54-62``,
``backends/base.py:40-46``, ``async_processor.py:53-64``,
``multi_processor.py:52-61``). Here they collapse into one frozen dataclass
that holds the one deployment setting, where the tables live; everything
else is a constant beside the code that uses it.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field


@dataclass(frozen=True)
class ExtractConfig:
    """Where the pipeline's tables live (``root_dir``).

    Not knobs: the escalation threshold is
    ``extract_core.CONFIDENCE_THRESHOLD`` (0.85, the reference's
    ``hybrid_backend.py:45``), the response-validation floor is
    ``extract_core.MIN_VALID_LENGTH`` (20, the reference's
    ``gemini_backend.py:115``), the salted rebalance's shape is the
    constants beside ``plans/pipeline.py::rebalance`` and the Arrow batch
    size is set once by ``session.get_spark``.
    """

    root_dir: str = field(default_factory=lambda: os.environ.get(
        "OCRDS_ROOT", "/tmp/ocrds"))

    @property
    def extracted_table(self) -> str:
        return os.path.join(self.root_dir, "extracted")

    @property
    def lineage_table(self) -> str:
        return os.path.join(self.root_dir, "lineage")


DEFAULT_CONFIG = ExtractConfig()
