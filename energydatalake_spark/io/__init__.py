from energydatalake_spark.io.archive import archive_folder
from energydatalake_spark.io.readers import read_csv_folder, read_table, folder_has_files
from energydatalake_spark.io.schemas import (
    SOURCE_SCHEMAS,
    SchemaDriftError,
    apply_schema,
    validate_columns,
)
from energydatalake_spark.io.writers import (
    overwrite_table,
    upsert_table,
    write_csv,
)

__all__ = [
    "read_csv_folder",
    "read_table",
    "folder_has_files",
    "overwrite_table",
    "upsert_table",
    "write_csv",
    "archive_folder",
    "SOURCE_SCHEMAS",
    "SchemaDriftError",
    "apply_schema",
    "validate_columns",
]
