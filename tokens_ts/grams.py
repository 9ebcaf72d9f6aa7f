"""Words and n-grams: the one copy of the rules every text operator uses.

Three rules, stated once here and nowhere else:

1. **Split once.** `words(col)` is split(trim(col), '\\s+'): edge
   whitespace never makes an empty word, a whitespace run is one
   separator, and a blank text is the single word ''. Build the word
   array once per row and hand it to the array functions below.
2. **Windows are zip_with over pre-sliced views.** The length-n windows
   of an array come from n views slice(arr, 1 + j, m), combined element
   by element with zip_with (arrays_zip for keys). The views are
   evaluated once per row; no lambda re-evaluates the array expression
   per position. Interpreted higher-order-function lambdas get no
   common-subexpression elimination, so an expression inside one is
   re-evaluated for every element: a split inside one is O(words²)
   per doc.
3. **Key width comes from the schema.** `gram_key` packs a window of
   integer ids into fixed-width bigint fields, injective for the element
   type it is given: ids of 32 bits or fewer go two to a field,
   (a << 32) | (b & 0xFFFFFFFF), so n ids take ceil(n/2) fields; bigint
   ids take one field each. No id is truncated, and no option picks
   the width.

PAD handling stays with each caller.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import types as T

_NARROW = (T.ByteType, T.ShortType, T.IntegerType)


def words(col):
    """Whitespace words of a text column (rule 1)."""
    return F.split(F.trim(col), r"\s+")


def _joined(x, y):
    return F.concat_ws(" ", x, y)


def _fold(arr, n: int, m, f):
    acc = F.slice(arr, 1, m)
    for j in range(1, n):
        acc = F.zip_with(acc, F.slice(arr, 1 + j, m), f)
    return acc


def grams(arr, n: int, f=_joined):
    """The length-n windows of `arr`, each folded left to right by
    f(acc, x); the default joins words with one space. An array shorter
    than n has no windows ([]); a null array stays null."""
    return _fold(arr, n, F.greatest(F.size(arr) - (n - 1), F.lit(0)), f)


def shingles(w, n: int):
    """Word n-grams joined with one space, where a doc shorter than n
    words is one shingle: the whole doc (the shingle of a short doc is
    the doc, so it still hashes and compares)."""
    size = F.size(w)
    return F.when(size >= n, _fold(w, n, size - (n - 1), _joined)).otherwise(
        F.array(F.array_join(w, " "))
    )


def _pack(a, b):
    return F.shiftleft(a.cast("bigint"), 32).bitwiseOR(
        b.cast("bigint").bitwiseAND(F.lit(0xFFFFFFFF))
    )


def gram_key(arr, n: int, dtype, width: int | None = None):
    """Injective fixed-width keys of the length-n windows of an integer
    id array (rule 3): array<struct<k1, …, kW: bigint>>, one key per
    window, [] for an array shorter than n.

    `dtype` is the array's element type in the schema. `width` (default
    n) sizes the key for windows up to that length, so keys of several
    lengths share one type; positions past n read 0, so tag n beside
    the key when lengths mix. A null id makes its field null, which lets
    a caller drop windows that hold a mapped-to-null PAD."""
    if isinstance(dtype, _NARROW):
        per = 2
    elif isinstance(dtype, T.LongType):
        per = 1
    else:
        raise TypeError(f"gram_key needs integer ids, got {dtype.simpleString()}")
    width = max(n, width or n)
    m = F.greatest(F.size(arr) - (n - 1), F.lit(0))
    zero = F.array_repeat(F.lit(0).cast("bigint"), m)
    # one view per id position, None for the zero positions past n
    views = [F.slice(arr, 1 + j, m) for j in range(n)]
    views += [None] * (width + width % per - n)
    if per == 1:
        fields = [zero if v is None else v.cast("array<bigint>") for v in views]
    else:
        fields = [
            zero if hi is None
            else F.transform(hi, lambda a: _pack(a, F.lit(0))) if lo is None
            else F.zip_with(hi, lo, _pack)
            for hi, lo in zip(views[::2], views[1::2])
        ]
    return F.arrays_zip(*[c.alias(f"k{i}") for i, c in enumerate(fields, 1)])
