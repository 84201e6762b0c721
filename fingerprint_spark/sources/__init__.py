"""Source operators: format dispatch, per-format parsing, corpus IO,
manifest validation, bucketed layouts, real byte codecs."""

from .bucketed import colocated_join, write_bucketed
from .corpus_io import read_corpus
from .dispatch import detect_format, parse_by_format
from .grid import csv_text_to_sheets, sheets_from_csv_col
from .manifest import load_text_paths, read_manifest
from .pdf import parse_pdf_binary, pdf_struct_from_binary_col
from .xlsx import sheets_from_xlsx_col, xlsx_to_sheets

__all__ = [
    "detect_format",
    "parse_by_format",
    "csv_text_to_sheets",
    "sheets_from_csv_col",
    "pdf_struct_from_binary_col",
    "parse_pdf_binary",
    "sheets_from_xlsx_col",
    "xlsx_to_sheets",
    "read_corpus",
    "read_manifest",
    "load_text_paths",
    "write_bucketed",
    "colocated_join",
]
