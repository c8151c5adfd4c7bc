"""The reference's cleaning chain P1→P5 as Catalyst projections.

Reference semantics (SURVEY.md §2.2, reference code/beam.py:111-120):

  P1 ``remove_last_colon``  — strip at most one trailing ``:`` from the
     ``items`` field (field index 4)            code/beam.py:35-39
  P2 lowercase the entire line (every column)   code/beam.py:118
  P3 delete ``?``, ``%``, ``&`` from every field  code/beam.py:42-45
  P4 append constant field ``new_col = "1"``    code/beam.py:120
  P5 dict projection (code/beam.py:48-66): positional naming,
     ``time``→``timestamp`` / ``restaurnt``→``restaurant`` renames, and
     the deployed variant's drop of rows with fewer than 12 fields
     (11 input fields + the appended constant, code/beam.py:50-51).

Two parity-critical details (ADVICE r1):

* Short rows are detected by ACTUAL field count, not by trailing NULLs:
  the structured path reads ``_corrupt_record`` (Spark sets it exactly
  when the token count differs from the schema) and counts the commas;
  the naive path sizes the split array directly.  An 11-field row with
  an empty last field is **kept** (reference: ``fields[10]=''``).
* Empty CSV fields parse to NULL in Spark but to ``''`` in the
  reference's ``line.split(',')`` — every field is coalesced to ``''``.

Rows with MORE than 11 fields are kept by the reference (len ≥ 12 after
the append) and its ``to_json`` reads ``cols[11]`` — the 12th *input*
field — as ``new_col``; reproduced here from the corrupt-record raw
line / the split array.

The whole chain is one ``select`` of column expressions: Catalyst folds
lower+regexp into one generated loop and downstream status filters can
be pushed through it (the predicate is column-local). Both front-ends
(``clean_orders`` over the CSV scan, ``clean_order_lines`` over raw
lines) feed the same body, ``_clean``; each supplies only its raw
fields, its field count and its 12th field.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gcp_food_delivery_data_pipeline_spark.schema import (
    CORRUPT_COL,
    OUT_COLS,
    RAW_COLS,
    RENAMES,
)
from gcp_food_delivery_data_pipeline_spark.functions.cleaning import (
    strip_one_trailing_colon,
    strip_special_chars,
)

N_RAW = len(RAW_COLS)  # 11 input fields; reference drops when < 12 incl. constant


def _clean_field(col: Column, is_items: bool) -> Column:
    """P1 (items only) → P2 → P3 on one field, NULL coalesced to ''."""
    col = F.coalesce(col, F.lit(""))
    if is_items:
        col = strip_one_trailing_colon(col)
    return strip_special_chars(F.lower(col))


def _clean(
    df: DataFrame,
    fields: list[Column],
    n_fields: Column,
    twelfth: Column,
    drop_malformed: bool,
) -> DataFrame:
    """P1-P5 over ``df``: ``fields`` are the 11 raw fields in
    ``RAW_COLS`` order, ``n_fields`` the row's real field count,
    ``twelfth`` its 12th field (read only when the row is long)."""
    exprs = [
        _clean_field(col, c == "items").alias(RENAMES.get(c, c))
        for col, c in zip(fields, RAW_COLS)
    ]
    # Long row: reference to_json reads cols[11] (12th input field) as
    # new_col — it too went through the P2/P3 line cleans.
    new_col = F.when(n_fields > N_RAW, _clean_field(twelfth, False)).otherwise(
        F.lit("1")
    )
    out = df.select(
        *exprs, new_col.alias("new_col"), (n_fields < N_RAW).alias("is_short")
    )
    if drop_malformed:
        return out.filter(~F.col("is_short")).select(*OUT_COLS)
    return out.select(*OUT_COLS, "is_short")


def clean_orders(df: DataFrame, drop_malformed: bool = True) -> DataFrame:
    """Apply P1-P5 to the raw orders frame of ``read_orders_csv`` (or
    the stream reader), which carries ``_corrupt_record``.

    Returns the 12-column all-string OUT_SCHEMA shape. Short rows are
    detected by real field count: Spark fills ``_corrupt_record`` with
    the raw line exactly when the token count differs from the schema.

    ``drop_malformed=True`` reproduces the deployed variant's length
    guard (code/beam.py:50-51).  With ``False`` the short rows are kept
    and flagged in a boolean ``is_short`` column — the reference counts
    C1-C3 *before* the drop (the guard lives in ``to_json`` at the
    sink), so count parity needs the pre-drop frame.
    """
    raw_fields = F.split(F.col(CORRUPT_COL), ",", -1)
    n_fields = F.when(F.col(CORRUPT_COL).isNull(), F.lit(N_RAW)).otherwise(
        F.size(raw_fields)
    )
    return _clean(
        df,
        [F.col(c) for c in RAW_COLS],
        n_fields,
        F.element_at(raw_fields, N_RAW + 1),
        drop_malformed,
    )


def clean_order_lines(lines: DataFrame, drop_malformed: bool = True) -> DataFrame:
    """Byte-fidelity variant over raw text lines (column ``line``).

    Splits naively on ``,`` exactly like the reference
    (code/beam.py:37,44,126) — a quoted field containing a comma parses
    the same wrong way the reference parses it.  Produced by
    ``read_orders_lines``.
    """
    fields = F.split(F.col("line"), ",", -1)
    return _clean(
        lines,
        [F.element_at(fields, i + 1) for i in range(N_RAW)],
        F.size(fields),
        F.element_at(fields, N_RAW + 1),
        drop_malformed,
    )


def typed_orders(cleaned: DataFrame) -> DataFrame:
    """Analytics-mode projection: cast the latent types the reference
    leaves as strings (SURVEY.md §1.2). Input: OUT_SCHEMA-shaped."""
    return cleaned.select(
        F.col("customer_id"),
        F.to_date("date", "M/d/yyyy").alias("order_date"),
        F.to_timestamp(
            F.concat_ws(
                " ", F.col("date"), F.regexp_replace("timestamp", r"\.", ":")
            ),
            "M/d/yyyy H:mm:ss",
        ).alias("order_ts"),
        F.col("order_id"),
        F.split("items", ":").alias("items"),
        F.col("amount").cast("decimal(12,2)").alias("amount"),
        F.col("mode"),
        F.col("restaurant"),
        F.col("status"),
        F.col("ratings").cast("int").alias("ratings"),
        F.col("feedback"),
    )


# ---------------------------------------------------------------------------
# Excel-corrupted id repair (SURVEY.md §1.2: the reference dataset's
# order_id column carries scientific-notation values like 1.00E+102 —
# spreadsheet round-tripping corrupted the original digit strings)
# ---------------------------------------------------------------------------

SCI_ID_RE = r"^([0-9]+)(?:\.([0-9]+))?e\+([0-9]+)$"


def is_scientific_id(col: Column | str) -> Column:
    """TRUE where an id string is Excel scientific notation (after the
    reference's lowercasing pass: ``1.00e+102``)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.rlike(SCI_ID_RE)


def repair_scientific_id(col: Column | str) -> Column:
    """Canonical digit string for a scientific-notation id; any other
    value passes through unchanged.

    ``m.f e+E`` ≡ digits(m,f) × 10^(E - len(f)) — so the repair is
    string surgery (concat + zero-pad), never a float cast: these ids
    exceed 10^100, which no numeric type round-trips, and a DOUBLE
    detour would re-corrupt the mantissa. Excel already dropped all
    but 3 significant digits — the repair restores MAGNITUDE and
    canonical form (joinable, sortable), not the lost digits; rows
    where the notation encodes a non-integer (E < len(f)) also pass
    through unchanged rather than inventing a fraction.
    """
    c = F.col(col) if isinstance(col, str) else col
    ip = F.regexp_extract(c, SCI_ID_RE, 1)
    fp = F.regexp_extract(c, SCI_ID_RE, 2)
    # try_cast: non-matching rows extract '' and must yield NULL (not
    # an ANSI cast error) so the when() falls through to pass-through
    ex = F.regexp_extract(c, SCI_ID_RE, 3).try_cast("int")
    pad = ex - F.length(fp)
    repaired = F.concat(ip, fp, F.repeat(F.lit("0"), pad))
    return F.when(is_scientific_id(c) & (pad >= 0), repaired).otherwise(c)
