#!/usr/bin/env python3
"""Copy a fixture directory with mixed-case, irregularly spaced document text.

Usage: python3 tools/mixedcase.py <sfDir> <outDir>

Every parquet file of <sfDir> is copied to <outDir> unchanged except
`documents.parquet`, whose `text` column is rewritten: ASCII letters are
re-cased and each single space between tokens becomes a run of spaces, tabs
or newlines, with whitespace added before the first and after the last
token. The shipped fixtures are all lowercase and single-spaced, so the
oracle gate cannot tell a tokenizer that skips `lower` or splits on " " from
the real one; on this copy it can.

The rewrite is a pure function of the text (its random choices are seeded by
the text's sha256), so planted exact duplicates stay exact duplicates. `\\v`
is left out on purpose: Java's `\\s` matches it and RE2's (DuckDB) does not,
so the two engines' tokenizers legitimately disagree on it.
"""
import hashlib
import os
import random
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq

GAPS = [" ", "  ", "\t", "\n", " \t", "\n\n", "   "]
EDGES = ["", " ", "\t", "\n", "  \n"]


def recase(tok, rng):
    mode = rng.randrange(4)
    if mode == 0:
        return tok
    if mode == 1:
        return tok.upper()
    if mode == 2:
        return tok[:1].upper() + tok[1:]
    return "".join(c.upper() if "a" <= c <= "z" and rng.random() < 0.5 else c
                   for c in tok)


def mix(text):
    if text is None:
        return None
    rng = random.Random(hashlib.sha256(text.encode("utf-8")).digest())
    toks = text.split(" ")
    out = [rng.choice(EDGES)]
    for i, tok in enumerate(toks):
        if i > 0:
            out.append(rng.choice(GAPS))
        out.append(recase(tok, rng))
    out.append(rng.choice(EDGES))
    return "".join(out)


def main(sf_dir, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name in sorted(os.listdir(sf_dir)):
        src = os.path.join(sf_dir, name)
        dst = os.path.join(out_dir, name)
        if name != "documents.parquet":
            shutil.copyfile(src, dst)
            continue
        table = pq.read_table(src)
        i = table.schema.get_field_index("text")
        field = table.schema.field(i)
        before = table.column(i).to_pylist()
        texts = [mix(t) for t in before]
        pq.write_table(table.set_column(i, field, pa.array(texts, type=field.type)), dst)
        changed = sum(a != b for a, b in zip(before, texts))
        print(f"{dst}: {table.num_rows} rows, {changed} texts rewritten")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
