"""The named query inventory (SURVEY.md §2) and its DuckDB oracle twins.

Importing this package populates :data:`QUERIES` / :data:`ORACLES`
(see ``registry``) in registration order: module by module, in the
import order below, and within a module in definition order.
``__spark_entry__.py`` re-exports them to the correctness driver.
"""

from .registry import (  # noqa: F401
    ORACLES,
    QUERIES,
    ROWS_ONLY_BY_DESIGN,
    register,
)

# Import for side effects: each module registers its queries. A module
# that imports another plans module comes after it, so each module's
# names stay together (streaming_q's c08 oracle imports curation).
from . import relational  # noqa: E402,F401
from . import scalar_funcs  # noqa: E402,F401
from . import udfs  # noqa: E402,F401
from . import tier_c  # noqa: E402,F401
from . import merge_q  # noqa: E402,F401
from . import weather_q  # noqa: E402,F401
from . import curation  # noqa: E402,F401
from . import streaming_q  # noqa: E402,F401
from . import events_q  # noqa: E402,F401
from . import training_q  # noqa: E402,F401
from . import serving_q  # noqa: E402,F401
from . import analytics_q  # noqa: E402,F401
