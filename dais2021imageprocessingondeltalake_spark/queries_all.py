"""Import every query module so the registry is fully populated.

`__spark_entry__.py`, bench.py, and the tests all import this module to
get the complete driver-contract surface. Consumers look queries up by
name; registry iteration order carries no meaning.
"""

from __future__ import annotations

from . import queries_relational  # noqa: F401
from . import queries_functions  # noqa: F401
from . import queries_pyboundary  # noqa: F401
from . import queries_streaming  # noqa: F401
from . import queries_llm  # noqa: F401
from . import queries_pipelines  # noqa: F401
from . import queries_advanced  # noqa: F401
from . import queries_tpch  # noqa: F401
from . import queries_curation  # noqa: F401
from . import queries_sketches  # noqa: F401
from . import queries_profiling  # noqa: F401

from .registry import REGISTRY, headline_queries, oracle_sql, queries  # noqa: F401,E402
