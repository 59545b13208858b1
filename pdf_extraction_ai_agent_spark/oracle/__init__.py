from .reference_extractor import (
    classify_lob_oracle,
    classify_lobs_oracle,
    extract_turn,
    extract_turn_frame,
    extract_html_main_content,
    extract_pdf_stream,
    find_spans,
    parse_fields_oracle,
    split_records_oracle,
    normalize_date_oracle,
)

__all__ = [
    "classify_lob_oracle",
    "classify_lobs_oracle",
    "extract_turn",
    "extract_turn_frame",
    "extract_html_main_content",
    "extract_pdf_stream",
    "find_spans",
    "parse_fields_oracle",
    "split_records_oracle",
    "normalize_date_oracle",
]
