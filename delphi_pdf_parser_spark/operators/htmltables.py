"""HTML table extraction — the WDC-web-tables pass: relational data
embedded in pages becomes (url, table_id, row_id, col_id, cell,
is_header) rows, the input to table-corpus curation (WDC), table QA
training sets, and schema-matching pipelines.

Reads the page through ``htmlcore.scan_bytes``, the tag scanner every
HTML parser here shares (comments, CDATA and script/style/template
bodies skipped): one pass over its ``<table|tr|td|th>`` structural
tags with a depth counter — only depth-1 tables are extracted and a
nested table's content is skipped (recorded per page as
``n_nested_skipped`` in :func:`table_stats` if needed); a cell closes
at the NEXT structural token, so unclosed ``<td>`` (ubiquitous in real
crawl HTML) parses correctly; ``colspan`` advances the column index;
inline markup inside cells is stripped and entities decode.

One Arrow ``mapInPandas`` pass — map-only, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from delphi_pdf_parser_spark.htmlcore import (
    attrs_of,
    inner_text,
    scan_bytes,
    spaced,
)

from .parallelize import map_rows, page_rows

TABLE_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("table_id", IntegerType()),
        StructField("row_id", IntegerType()),
        StructField("col_id", IntegerType()),
        StructField("cell", StringType()),
        StructField("is_header", BooleanType()),
    ]
)

_STRUCT = frozenset("table tr td th".split())


def _page_tables(url: str, html) -> list:
    s, tags = scan_bytes(html)
    rows = []
    depth = 0
    tid = -1
    rid = -1
    cid = 0
    cell = None  # index in tags of the open cell's <td>/<th>
    cell_th = False
    cell_span = 1

    def close_cell(k: int):
        nonlocal cell, cid
        if cell is not None and rid >= 0:
            text = inner_text(s, tags, cell, k)
            rows.append((url, tid, rid, cid, text, cell_th))
            cid += cell_span
        cell = None

    for k, t in enumerate(tags):
        name = t[3]
        # a structural name ends at whitespace, '/' or '>' (not <td.x>)
        if name not in _STRUCT or not (t[4][:1] in ("", "/") or spaced(t)):
            continue
        closing = t[2]
        if depth == 1:
            close_cell(k)
        if name == "table":
            if closing:
                depth = max(depth - 1, 0)
            else:
                depth += 1
                if depth == 1:
                    tid += 1
                    rid = -1
        elif depth == 1 and name == "tr" and not closing:
            rid += 1
            cid = 0
        elif depth == 1 and name in ("td", "th") and not closing:
            try:
                cell_span = max(int(attrs_of(t).get("colspan", "1")), 1)
            except ValueError:
                cell_span = 1
            cell_th = name == "th"
            cell = k
    # truncated-page flush: crawl HTML routinely ends mid-table; a cell
    # still open at EOF keeps its text instead of vanishing
    if depth == 1:
        close_cell(len(tags))
    return rows


def extract_html_tables(
    documents: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """Cell-level table rows for every depth-1 ``<table>`` on every
    page: (url, table_id, row_id, col_id, cell, is_header)."""
    df = documents.select(
        F.col(url_col).alias("url"), F.col(html_col).alias("html")
    ).filter(F.col(html_col).isNotNull())
    return map_rows(df, page_rows(_page_tables), TABLE_SCHEMA)


def table_profile(cells: DataFrame, min_rows: int = 2) -> DataFrame:
    """WDC-style table classification: most extracted ``<table>``s are
    LAYOUT scaffolding, not data; the web-tables pipeline keeps the
    relational ones. Per (url, table_id): shape, shape consistency
    (fraction of rows with the modal column count), numeric-cell
    fraction, header flag, and the keep verdict

        is_relational = consistency >= 0.8 AND n_rows >= min_rows
                        AND n_cols >= 2.

    Two hash aggregates + one per-table modal lookup — no windows over
    the corpus, no Python.
    """
    per_row = cells.groupBy("url", "table_id", "row_id").agg(
        F.count("*").alias("row_cells")
    )
    modal = (
        per_row.groupBy("url", "table_id", "row_cells")
        .agg(F.count("*").alias("n"))
        .groupBy("url", "table_id")
        .agg(
            F.max_by(
                "row_cells", F.struct(F.col("n"), -F.col("row_cells"))
            ).alias("n_cols")
        )
    )
    shape = per_row.groupBy("url", "table_id").agg(
        F.count("*").alias("n_rows")
    )
    consistency = (
        per_row.join(modal, ["url", "table_id"])
        .groupBy("url", "table_id")
        .agg(
            F.round(
                F.avg(
                    (F.col("row_cells") == F.col("n_cols")).cast(
                        "double"
                    )
                ),
                4,
            ).alias("consistency")
        )
    )
    content = cells.groupBy("url", "table_id").agg(
        F.round(
            F.avg(
                F.col("cell").rlike(r"^-?\d+([.,]\d+)?$").cast("double")
            ),
            4,
        ).alias("numeric_frac"),
        F.max(F.col("is_header").cast("int")).cast("boolean").alias(
            "has_header"
        ),
    )
    prof = (
        shape.join(modal, ["url", "table_id"])
        .join(consistency, ["url", "table_id"])
        .join(content, ["url", "table_id"])
    )
    return prof.select(
        "url",
        "table_id",
        "n_rows",
        "n_cols",
        "consistency",
        "numeric_frac",
        "has_header",
        (
            (F.col("consistency") >= 0.8)
            & (F.col("n_rows") >= min_rows)
            & (F.col("n_cols") >= 2)
        ).alias("is_relational"),
    )
