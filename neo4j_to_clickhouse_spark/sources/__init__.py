"""Sources & sinks (SURVEY.md §2.1 S1-S12)."""

from neo4j_to_clickhouse_spark.sources.envelopes import (  # noqa: F401
    parse_envelopes,
    read_envelope_file,
)
from neo4j_to_clickhouse_spark.sources.bucketed import (  # noqa: F401
    read_table,
    write_bucketed_events,
)
from neo4j_to_clickhouse_spark.sources.snapshot import (  # noqa: F401
    load_node_snapshot,
    load_relationship_snapshot,
    write_events,
)
from neo4j_to_clickhouse_spark.sources.tables import (  # noqa: F401
    load_table,
    register_views,
)
