"""``lake_llm``: lakehouse DML on four formats, then LLM-data curation.

One pass = the ``lakehouse_dml`` pass (write, DELETE, MERGE and a
merge-on-read snapshot read per format) followed by the
``llm_curation`` pass (dedup, quality filters, decontamination, packing
and a PQ-index search batch). Together they cover the four writers,
the four lakehouse readers, ``sources.tablelog`` and ``llmdata.*``.
"""

from __future__ import annotations

from lakehouse_dml import LakehouseDml
from llm_curation import LlmCuration
from workload import Composite


class LakeLlm(Composite):
    name = "lake_llm"
    parts = (LakehouseDml, LlmCuration)


WORKLOAD = LakeLlm
