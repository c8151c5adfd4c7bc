"""Deterministic synthetic food-orders CSV, shaped per FIXTURES.md §1.

Covers every required edge case: trailing-colon items, multi-colon
items without a trailing colon, ``?%&`` special chars, mixed case,
``Not delivered`` status, a short (<11 field) row, trailing-space and
apostrophe restaurant names, scientific-notation order ids, and a
UTF-8 BOM + typo'd header (``restaurnt``).
"""

from __future__ import annotations

HEADER = "Customer_id,date,time,order_id,items,amount,mode,restaurnt,Status,ratings,feedback"

ROWS = [
    # items with one trailing colon; mixed case; '?' inside a word
    "ABCD123456XY,11/10/2023,8.31.21,654S654,PiZza:Marga?ritA:WATERZOOI:Crispy Onion Rings:,21,Card,Brussels Mussels ,Delivered,5,Awesome experience",
    # multi-colon items, NO trailing colon — P1 must not touch it
    "EFGH654321ZW,11/10/2023,12.05.03,111A222,Benedict:pickle,45,Cash,Gaspar's,Delivered,4,Good",
    # single item with trailing colon
    "IJKL111111AB,11/10/2023,18.31.21,333B444,Fried Rice:,33,Online,Taco Bell,Delivered,3,Late delivery",
    # 'Not delivered' — must land in OTHER (fails == 'delivered')
    "MNOP222222CD,11/10/2023,9.15.00,555C666,noo%dles:,27,Wallet,Wok This Way,Not delivered,1,Delivery boy didnt come at doorstep",
    # On Hold
    "QRST333333EF,11/10/2023,10.00.59,777D888,Sushi Platter:,88,Card,Tokyo Table,On Hold,2,Still waiting",
    # Cancelled; '&' in feedback
    "UVWX444444GH,11/10/2023,11.45.30,999E000,Burger & Fries:,19,Cash,Patty Shack,Cancelled,1,Cold & soggy",
    # scientific-notation order id (Excel corruption)
    "YZAB555555IJ,11/10/2023,13.22.10,1.00E+102,Waterzooi:,54,Online,Brussels Mussels ,Delivered,5,Great",
    # 13-char customer-id outlier
    "LJBO9511000BL,11/10/2023,14.10.05,121F212,Caesar Salad:,16,Wallet,Leafy Greens,Delivered,4,Fresh",
    # '%' in items, '?' in feedback
    "CDEF666666KL,11/10/2023,15.59.59,343G454,Fish %and Chips:,38,Card,The Codfather,Delivered,3,Why so salty?",
    # plain delivered row
    "GHIJ777777MN,11/10/2023,16.30.00,565H676,Pad Thai:,29,Cash,Bangkok Bites,Delivered,5,Perfect",
    # short row (<11 fields) — exercises the malformed-row drop
    "KLMN888888OP,11/10/2023,17.00.00,787I898,Dumplings:",
    # 11 fields with EMPTY feedback — must be KEPT (reference keeps it:
    # fields[10]='' and len==12 after the ',1' append; ADVICE r1)
    "WXYZ000000ST,11/10/2023,20.00.00,232K323,Pasta:,35,Card,Roma Roma,Delivered,5,",
    # delivered with multiple inner colons and trailing colon
    "QRSU999999QR,11/10/2023,19.45.12,909J010,Ramen:Gyoza:Edamame:,41,Online,Tokyo Table,Delivered,4,Nice",
]

# Expected post-clean invariants for the fixture (excluding the short
# row, which the sink drops — reference code/beam.py:50-51; the
# empty-feedback row IS kept):
N_TOTAL = 12
N_DELIVERED = 9
N_OTHER = 3

# Pre-drop run counts: the reference counts cleaned_data BEFORE the
# len<12 guard (code/beam.py:140-146 vs :50-51), so the short row is
# counted in total. Its status field is missing → NULL → it lands in
# the "other" count. (The reference itself would IndexError on a
# <9-field row at the filter, code/beam.py:126 — counting it as
# "other" is this engine's documented, non-crashing choice.)
N_COUNT_TOTAL = 13
N_COUNT_DELIVERED = 9
N_COUNT_OTHER = 4


def write_food_csv(path: str) -> str:
    with open(path, "w", encoding="utf-8-sig") as f:
        f.write(HEADER + "\n")
        for r in ROWS:
            f.write(r + "\n")
    return path


class _RenameFailsOnCall:
    """Hadoop FileSystem proxy whose ``rename`` fails on call ``k``."""

    def __init__(self, fs, k: int, calls: list[int]):
        self._fs, self._k, self._calls = fs, k, calls

    def rename(self, src, dst):
        self._calls.append(1)
        return len(self._calls) != self._k and self._fs.rename(src, dst)

    def __getattr__(self, name):
        return getattr(self._fs, name)


def fail_rename_on_call(monkeypatch, k: int) -> list[int]:
    """Make the ``k``-th Hadoop rename the writers call fail (return
    False); returns the list that records every rename call."""
    from gcp_food_delivery_data_pipeline_spark.sources import writers

    calls: list[int] = []
    real = writers._hadoop_fs

    def failing_fs(session, path):
        fs, jpath = real(session, path)
        return _RenameFailsOnCall(fs, k, calls), jpath

    monkeypatch.setattr(writers, "_hadoop_fs", failing_fs)
    return calls
