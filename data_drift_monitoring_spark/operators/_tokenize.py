"""Arrow-side tokenization mirror of the JVM expression convention.

The JVM expression paths (``dedup._with_shingles`` for exact n-gram
Jaccard, ``text_analysis``) and every DuckDB oracle tokenize as
``split(regexp_replace(lower([trim](text)), '\\s+', ' '), ' ')`` where

* ``trim()`` strips ONLY space characters (0x20), never tabs/newlines;
* Java/RE2 ``\\s`` is the ASCII class ``[ \\t\\n\\x0b\\f\\r]`` — it does
  NOT match Unicode whitespace such as NBSP.

pandas' defaults diverge on both counts: ``.str.strip()`` strips ALL
whitespace and Python ``\\s`` is Unicode-aware, so a text ending in
``'\\n'`` tokenized with the pandas defaults yields one fewer word than
the expression/oracle convention (``'hello\\n'`` → 1 word vs 2). Every
Arrow tokenizer in this package (the MinHash signature table, the
contamination grams, the repetition counts) must therefore go through
:func:`expr_words` / :func:`expr_word_hashes_arrow`, which strip spaces
only and collapse exactly the ASCII class.
"""

from __future__ import annotations

import pandas as pd

# Java \s == RE2 \s == [ \t\n\x0b\f\r]; \x0b is vertical tab.
_ASCII_WS = r"[ \t\n\x0b\f\r]+"


def expr_words(texts: "pd.Series", trim: bool = False) -> "pd.Series":
    """Tokenize like the JVM expression convention.

    ``trim=True`` mirrors ``split(regexp_replace(lower(trim(text)),
    '\\s+', ' '), ' ')`` (repetition/text-analysis convention);
    ``trim=False`` mirrors the same without the outer ``trim``
    (dedup shingle convention). Returns a Series of word lists; empty
    text yields ``['']`` exactly as Spark's ``split('', ' ')`` does.
    """
    s = texts.fillna("").str.lower()
    if trim:
        s = s.str.strip(" ")
    return s.str.replace(_ASCII_WS, " ", regex=True).str.split(" ")


def expr_word_hashes(texts: "pd.Series", trim: bool = False):
    """Per-word 64-bit hashes of ``expr_words(texts, trim)`` WITHOUT
    materializing every word instance as a Python object.

    pandas-UDF entry point (the repetition counts UDF): converts the
    object Series back to arrow once and delegates to
    :func:`expr_word_hashes_arrow` (the zero-copy ``mapInArrow`` paths
    skip this conversion — and, upstream, skip Spark's arrow→pandas
    object materialization of every text)."""
    import numpy as np
    import pyarrow as pa

    if len(texts) == 0:
        # an empty object Series converts to a NULL-typed arrow array,
        # which the string kernels reject — and Spark does hand
        # pandas UDFs zero-row batches
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.uint64)
    # large_string: 64-bit offsets — a pandas-UDF batch whose total text
    # exceeds 2 GB would raise ArrowCapacityError with plain string's
    # 32-bit offsets (all kernels support the large variant)
    return expr_word_hashes_arrow(
        pa.array(texts.fillna(""), type=pa.large_string()), trim=trim
    )


def expr_word_hashes_arrow(arr, trim: bool = False):
    """Arrow-native core of :func:`expr_word_hashes`.

    ``arr`` is a pyarrow ``string``/``large_string`` Array or
    ChunkedArray (e.g. a column straight off a ``mapInArrow``
    RecordBatch — zero-copy from Spark's IPC buffers, no Python str
    objects ever created for the raw text). Returns ``(lens, hw)``:
    int64 word counts per doc and the uint64 ``pandas.util.hash_array``
    hash of every (lowered) word instance in document order —
    bit-identical to
    ``hash_array(np.array([w for ws in expr_words(t) for w in ws]))``:
    the text is whitespace-normalized and split in pyarrow C, the word
    instances are DICTIONARY-ENCODED, and only the vocabulary is
    materialized for Python ``str.lower`` + hashing. Lowering after
    splitting is exact: whitespace is case-invariant (boundaries
    match), and per-word ``str.lower`` sees the same final-sigma /
    dotted-İ context as full-string lowering because words are
    whitespace-delimited — pyarrow's own ``utf8_lower`` is NOT used
    (simple folding; diverges from the JVM/Python on exactly those
    code points)."""
    import numpy as np
    import pandas.util as pdu
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if len(arr) == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.uint64)
    # Spark hands mapInArrow batches as 32-bit-offset string unless
    # useLargeVarTypes; cast up front (offsets-only rewrite) so a >2 GB
    # flattened batch can't overflow downstream kernels
    if not pa.types.is_large_string(arr.type):
        arr = arr.cast(pa.large_string())
    arr = pc.fill_null(arr, "")
    if trim:
        arr = pc.utf8_trim(arr, " ")
    norm = pc.replace_substring_regex(arr, pattern=_ASCII_WS, replacement=" ")
    split = pc.split_pattern(norm, pattern=" ")
    lens = pc.list_value_length(split).cast(pa.int64()).to_numpy()
    vals = pc.list_flatten(split)
    if len(vals):
        denc = vals.dictionary_encode()
        if isinstance(denc, pa.ChunkedArray):
            denc = denc.combine_chunks()
        vocab = denc.dictionary.to_pandas().str.lower().to_numpy(dtype=object)
        hw = pdu.hash_array(vocab).astype(np.uint64)[denc.indices.to_numpy()]
    else:
        hw = np.empty(0, dtype=np.uint64)
    return lens, hw
