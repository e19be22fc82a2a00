"""Query/operator catalog.

Each module registers ``QuerySpec`` entries into ``catalog.REGISTRY``
(the ``streaming_*`` entries from ``ai_duckdb_spark.streaming``);
``__spark_entry__.py`` exposes them to the driver as ``queries()`` /
``oracle_sql()``. Import order defines registration order; the driver
window is put first by ``__spark_entry__``, not here.
"""

from . import catalog  # noqa: F401
from . import tpch  # noqa: F401
from . import relational  # noqa: F401
from . import functions_q  # noqa: F401
from . import events_q  # noqa: F401
from . import text_q  # noqa: F401
from . import dedup_q  # noqa: F401
from . import corpus_q  # noqa: F401
from . import similarity_q  # noqa: F401
from . import extras_q  # noqa: F401
from . import analytics_q  # noqa: F401
from . import tpch_deep  # noqa: F401
from . import tpch_deep2  # noqa: F401
from . import tokenizer_q  # noqa: F401
from . import search_q  # noqa: F401
from ..streaming import windows, stateful  # noqa: F401  (the streaming_* entries)

REGISTRY = catalog.REGISTRY
