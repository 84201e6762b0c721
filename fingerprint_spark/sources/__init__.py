"""Source operators: the day-partitioned corpus reader and the stdlib
xlsx/xls byte codecs behind the spreadsheet grid model."""

from .corpus_io import read_corpus
from .xlsx import sheets_from_xlsx_col, xlsx_to_sheets

__all__ = [
    "sheets_from_xlsx_col",
    "xlsx_to_sheets",
    "read_corpus",
]
