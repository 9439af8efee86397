from .tables import TABLES, load_table

__all__ = ["TABLES", "load_table"]
