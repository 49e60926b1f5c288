"""Query/oracle inventory: importing this package populates the registry.

Each module registers one ``queries()`` entry per SURVEY.md §2 operator
ID, plus a DuckDB oracle where the operator is SQL-expressible.
``QUERIES`` and ``ORACLES`` keep registration order: the module import
order below, then definition order within each module. Importing the
package reads no file outside it.

The order the driver's correctness harness sees (it checks the first 50
keys) is set in ``__spark_entry__.queries()``, not here.
"""

from faexport_db_spark.queries import (  # noqa: F401
    aggregates,
    filters,
    graph_queries,
    joins,
    merge_queries,
    mining,
    scalars,
    setops,
    sorts,
    sources_queries,
    streaming_queries,
    timeseries,
    training_queries,
    windows,
)
from faexport_db_spark.queries.registry import ORACLES, QUERIES  # noqa: F401
