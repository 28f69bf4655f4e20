from .tables import TABLES, load_table, load_tables, read_parquet  # noqa: F401
