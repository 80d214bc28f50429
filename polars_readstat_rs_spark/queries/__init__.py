"""Query registry: importing this package registers the relational and
LLM-pipeline suites into ``QUERIES``/``ORACLES`` in registration order.
The driver's run order lives in ``__spark_entry__`` (``HEAD``)."""

from . import llm, llm2, llm3, llm4, pipeline, readstat, relational, relational2, relational3, streaming_q, tpch, llm5, llm6, llm7, llm8, llm9, llm10, llm11, llm12, llm13, llm14, llm15, llm16  # noqa: F401  (registration side effects)
from .registry import ORACLES, QUERIES

__all__ = ["QUERIES", "ORACLES"]
