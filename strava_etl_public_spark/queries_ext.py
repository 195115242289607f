"""Extension-query registry aggregator.

The former 7.6k-line single-file registry is split into per-family
modules (round 7, verdict #7). Importing this module imports them in
the original registration order, so EXTRA_QUERIES iteration order
follows registration; the driver-facing order is queries.QUERY_ORDER.
"""

from . import queries_common  # noqa: F401
from . import queries_dedup_sim  # noqa: F401  (registration side-effect)
from . import queries_text_mm_stream  # noqa: F401  (registration side-effect)
from . import queries_sketch  # noqa: F401  (registration side-effect)
from . import queries_stats_text  # noqa: F401  (registration side-effect)
from . import queries_rel_graph  # noqa: F401  (registration side-effect)
from . import queries_tpch  # noqa: F401  (registration side-effect)
from . import queries_snapshots  # noqa: F401  (registration side-effect)
from . import queries_protocol  # noqa: F401  (registration side-effect)
from . import queries_tables  # noqa: F401  (registration side-effect)
from . import queries_curation  # noqa: F401  (registration side-effect)
from . import queries_eval  # noqa: F401  (registration side-effect)
from . import queries_stream_state  # noqa: F401  (registration side-effect)
from . import queries_ml_geo  # noqa: F401  (registration side-effect)
from . import queries_timeseries  # noqa: F401  (registration side-effect)
