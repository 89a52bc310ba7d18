"""Output connectors (reference O24/O25) and table maintenance."""

from cosmap_spark.sinks.commit import (  # noqa: F401
    CommitConflict,
    LocalFS,
    ManifestStore,
)
from cosmap_spark.sinks.mor import (  # noqa: F401
    mor_append,
    mor_changes,
    mor_compact,
    mor_delete_keys,
    mor_init,
    mor_maintain,
    mor_read,
    mor_sync,
    mor_vacuum,
)
from cosmap_spark.sinks.writers import (  # noqa: F401
    compact_parquet,
    delete_keys,
    merge_upsert,
    merge_upsert_partitioned,
    multi_output,
    publish,
    write_output,
)
