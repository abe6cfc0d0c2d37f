"""Space-filling-curve cell indexing: Z2/Z3 (points), XZ2/XZ3 (extents),
geohash, slippy tiles, and query-range decomposition.

The reference's Z2/Z3/XZ2/XZ3 key math (geomesa-z3) reimagined as vectorized
numpy encoders producing LongType columns, plus driver-side pure-Python
range decomposition whose output becomes partition-prunable predicates."""

from .geohash import geohash_decode_bbox, geohash_decode_point, geohash_encode
from .ranges import IndexRange, merge_ranges, zranges_box, zranges_lonlat
from .tiles import GridSnap, lonlat_to_tile, tile_bounds, tile_key
from .xz import XZ2SFC, XZ3SFC
from .zorder import (
    WORLD,
    Z2_BITS,
    Z3_BITS,
    denormalize,
    interleave2,
    interleave3,
    deinterleave2,
    deinterleave3,
    normalize,
    time_to_bin_offset,
    z2_index,
    z2_invert,
    z3_index,
)

__all__ = [
    "IndexRange",
    "merge_ranges",
    "zranges_box",
    "zranges_lonlat",
    "XZ2SFC",
    "XZ3SFC",
    "GridSnap",
    "lonlat_to_tile",
    "tile_bounds",
    "tile_key",
    "geohash_encode",
    "geohash_decode_bbox",
    "geohash_decode_point",
    "WORLD",
    "Z2_BITS",
    "Z3_BITS",
    "normalize",
    "denormalize",
    "interleave2",
    "interleave3",
    "deinterleave2",
    "deinterleave3",
    "time_to_bin_offset",
    "z2_index",
    "z2_invert",
    "z3_index",
]
