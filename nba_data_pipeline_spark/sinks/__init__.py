from .writer import read_table, write_table  # noqa: F401
