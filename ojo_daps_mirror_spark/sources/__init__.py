from .registry import TABLES, load_table, load_tables, local_frame

__all__ = ["TABLES", "load_table", "load_tables", "local_frame"]
