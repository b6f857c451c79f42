"""Bit-field extraction for packed QA/cloud-mask bytes.

Semantics match the reference's ``bits_stripping(bit_start, bit_count, value)
= (value & (2**(bit_start+bit_count) - 1)) >> bit_start`` (reference
``MODIS_Aggregation/aggregate_functions.py:51-53``) and its application to the
cloud-mask byte: bits 1-2 = mask flag in {0 cloudy, 1 prob-cloudy,
2 prob-clear, 3 clear}, bit 0 = determination status, flag forced to -1 where
status == 0 (``:156-158``).

Implemented as pure Catalyst bitwise expressions — constant-folded masks,
whole-stage codegen, no Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def bit_field(col: Column, bit_start: int, bit_count: int) -> Column:
    """Extract ``bit_count`` bits starting at ``bit_start`` (LSB=0)."""
    mask = (1 << (bit_start + bit_count)) - 1
    return F.shiftright(col.bitwiseAND(F.lit(mask)), bit_start)


def cloud_mask_flag(cm_raw: Column) -> Column:
    """Decode the 2-bit cloud-mask flag with QA exclusion.

    Returns an INT in {-1, 0, 1, 2, 3}; NULL propagates from a NULL raw
    byte (fill handling happens at the source).
    """
    flag = bit_field(cm_raw, 1, 2)
    status = bit_field(cm_raw, 0, 1)
    return F.when(status == 0, F.lit(-1)).otherwise(flag).cast("int")


def cloudy_flag(cm: Column) -> Column:
    """1 where the decoded flag is cloudy or probably cloudy (0 <= cm <= 1),
    else 0 — one pixel's contribution to CLD_pix (reference
    ``aggregate_functions.py:366-368``)."""
    return F.when(cm.between(0, 1), 1).otherwise(0)


def determined_flag(cm: Column) -> Column:
    """1 where the cloud mask was determined (0 <= cm <= 3), else 0 — one
    pixel's contribution to TOT_pix."""
    return F.when(cm.between(0, 3), 1).otherwise(0)
