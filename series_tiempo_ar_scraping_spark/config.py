"""Engine-wide constants mirroring the reference's declared semantics.

Every constant cites the reference line it reproduces (behavioral parity,
not copied code).
"""

from __future__ import annotations

# Missing-data tokens coerced to NULL during scraping
# (reference ``series_tiempo_ar_scraping/processors.py:90-95``).
MISSING_TOKENS: list[str] = [
    "",
    " ",
    "-",
    "--",
    "---",
    ".",
    "...",
    "/",
    "///",
    "s.d.",
    "s.d",
    "s/d",
    "n,d,",
    "n,d",
    "n.d.",
    "n.d",
    "n/d",
    "s",
    "x",
]

# ISO-8601 repeat-duration → single-letter frequency code, exactly the set
# supported for scraping (reference ``processors.py:230-238``).
FREQ_ISO_TO_CODE: dict[str, str] = {
    "R/P1Y": "Y",
    "R/P6M": "S",
    "R/P3M": "Q",
    "R/P1M": "M",
    "R/P1D": "D",
}

# Months spanned by one period of each frequency code (daily handled as
# days, not months). Used by the calendar/conformity expression library.
FREQ_CODE_MONTHS: dict[str, int] = {"Y": 12, "S": 6, "Q": 3, "M": 1}

# Status enum with the reference's explicit ordering ERROR < WARNING < OK
# (``base.py:903-913`` pd.Categorical ordering).
STATUS_ERROR = "ERROR"
STATUS_WARNING = "WARNING"
STATUS_OK = "OK"
STATUS_ORDER: list[str] = [STATUS_ERROR, STATUS_WARNING, STATUS_OK]

# A1-style cell coordinate (``processors.py:223-228``).
CELL_COORD_REGEX = r"^[A-Za-z]+(\d+)$"

# Scraping-only metadata keys scrubbed before publishing
# (``base.py:657-677``).
SCRAPING_ONLY_DISTRIBUTION_KEYS: list[str] = [
    "scrapingFileURL",
    "scrapingFileSheet",
]
SCRAPING_ONLY_FIELD_KEYS: list[str] = [
    "scrapingIdentifierCell",
    "scrapingDataStartCell",
]

# Routing methods (``base.py:123-153``): downloadURL present → csv download;
# else scrapingFileURL extension txt → txt, xls/xlsx → excel.
METHOD_CSV = "csv"
METHOD_TXT = "txt"
METHOD_EXCEL = "excel"
METHOD_UNKNOWN = "unknown"

TXT_EXTENSIONS = ["txt"]
# jsonl = the engine's cells-grid landing format (a pre-extracted workbook);
# routed like Excel since it feeds the same scraping path (sources/cells.py).
EXCEL_EXTENSIONS = ["xls", "xlsx", "jsonl"]
