from .formats import read_csv, read_jsonl, write_csv, write_jsonl
from .tables import load_table, load_tables, prefix_scan, spread, table_rowcount

__all__ = [
    "load_table",
    "load_tables",
    "prefix_scan",
    "spread",
    "table_rowcount",
    "read_csv",
    "read_jsonl",
    "write_csv",
    "write_jsonl",
]
