"""Declared-query registry — import all query modules for side effects."""

from .registry import REGISTRY, Query, register  # noqa: F401

from . import aggregates  # noqa: F401,E402
from . import dedup_oracle  # noqa: F401,E402
from . import entity_resolution  # noqa: F401,E402
from . import event_analytics  # noqa: F401,E402
from . import functions_suite  # noqa: F401,E402
from . import graph_ops  # noqa: F401,E402
from . import joins  # noqa: F401,E402
from . import llm_ops  # noqa: F401,E402
from . import parity  # noqa: F401,E402
from . import pipeline_ops  # noqa: F401,E402
from . import quality_checks  # noqa: F401,E402
from . import relational  # noqa: F401,E402
from . import sorts_setops  # noqa: F401,E402
from . import streaming_batch  # noqa: F401,E402
from . import subqueries  # noqa: F401,E402
from . import text_index  # noqa: F401,E402
from . import tpch_analogs  # noqa: F401,E402
from . import udfs  # noqa: F401,E402
from . import windows  # noqa: F401,E402

__all__ = ["REGISTRY", "Query", "register"]
