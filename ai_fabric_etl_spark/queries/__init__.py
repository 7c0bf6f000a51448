"""Query registry. Import order = driver enumeration order: catalog's
core operators register first (via the module import), then the x12
flagship family and the temporal/sampling entries — the ones a
time-budgeted run must reach (round-1 gap).
"""

from ai_fabric_etl_spark.queries import x12_queries  # noqa: F401  (registers entries)
from ai_fabric_etl_spark.queries import training_queries  # noqa: F401  (registers entries)
from ai_fabric_etl_spark.queries import lakehouse_queries  # noqa: F401  (registers entries)
from ai_fabric_etl_spark.queries import behavior_queries  # noqa: F401  (registers entries)
from ai_fabric_etl_spark.queries import graph_queries  # noqa: F401  (registers entries)
from ai_fabric_etl_spark.queries import composites  # noqa: F401  (must import last: fingerprints registered entries)
from ai_fabric_etl_spark.queries.catalog import oracle_sql, queries  # noqa: F401
