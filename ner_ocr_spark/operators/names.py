"""Names for an operator's temporary columns that cannot clobber the
caller's columns."""

from __future__ import annotations

from pyspark.sql import DataFrame


def temp_names(frames: list[DataFrame], *bases: str) -> list[str]:
    """One column name per base, each unused in every frame and distinct
    from the others: the base itself when free, else base_1, base_2, ...
    Compared case-insensitively, as Spark resolves column names."""
    taken = {c.lower() for df in frames for c in df.columns}
    names = []
    for base in bases:
        name, i = base, 0
        while name.lower() in taken:
            i += 1
            name = f"{base}_{i}"
        taken.add(name.lower())
        names.append(name)
    return names
