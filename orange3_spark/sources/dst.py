"""Labelled distance-matrix (.dst) interchange IO.

The reference reads/writes square distance matrices in a tab-separated
format (``Orange/misc/distmatrix.py:113-260`` ``_from_dst``, ``:359-388``
``_save_dst``): a header line ``<n> [axis=<d>] [symmetric|asymmetric]
[row_labels] [col_labels]``, an optional column-label line, then one
row per line (row label first when present), lower triangle only for
symmetric matrices, short lines zero-padded.  Widgets owdistancefile /
owsavedistances are thin wrappers over this format.

The engine computes distances in LONG FORM (``stats/distance.py``:
``(id_a, id_b, dist)`` with ``id_a < id_b``), which scales; .dst is the
small-matrix interchange boundary, so — exactly like ``sources/tab.py``
— both directions run driver-side with loud row bounds, and the
scalable sink for big distance frames stays parquet.

``read_dst`` returns the full logical square as long form
``(i, j[, row_label][, col_label], dist)`` (symmetric input mirrored,
diagonal present), plus ``df.dst_meta = {"n", "axis", "symmetric"}``.
``write_dst`` maps the pair frame's distinct ids to positions in sorted
order, emits ``str(id)`` row labels so ids survive the round-trip, and
writes the lower triangle (missing pairs are 0 — the reference's
padding rule in reverse).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from orange3_spark.session import arrow_values, fetch_capped, local_frame


def read_dst(spark: SparkSession, path: str,
             max_cells: int = 4_000_000) -> DataFrame:
    """Parse a .dst file (format of ``distmatrix.py:113-245``) into a
    long-form frame.  Driver-side, bounded by ``max_cells`` = n²."""
    with open(path, encoding="utf-8") as fh:
        header = fh.readline()
        if not header.strip():
            raise ValueError("empty file")
        toks = header.strip().split()
        if not toks[0].isdigit():
            raise ValueError("distance file must begin with dimension")
        n = int(toks.pop(0))
        if n * n > max_cells:
            raise ValueError(
                f".dst reader is driver-side; {n}x{n} > {max_cells} "
                "cells. Store large matrices long-form in parquet.")
        symmetric, axis = True, 1
        row_labels = col_labels = None
        for flag in toks:
            if flag in ("labelled", "labeled", "row_labels"):
                row_labels = []
            elif flag == "col_labels":
                col_labels = []
            elif flag == "symmetric":
                symmetric = True
            elif flag == "asymmetric":
                symmetric = False
            elif flag.startswith("axis=") and flag[5:].isdigit():
                axis = int(flag[5:])
            else:
                raise ValueError(f"invalid flag '{flag}'")
        if col_labels is not None:
            col_labels = [x.strip()
                          for x in fh.readline().strip().split("\t")]
            if len(col_labels) != n:
                raise ValueError("mismatching number of column labels, "
                                 f"{len(col_labels)} != {n}")
        matrix = [[0.0] * n for _ in range(n)]
        for i, line in enumerate(fh):
            if i >= n:
                raise ValueError("too many rows")
            cells = line.strip().split("\t")
            if row_labels is not None:
                row_labels.append(cells.pop(0).strip())
            if len(cells) > n:
                raise ValueError(f"too many columns in matrix row {i + 1}")
            for j, e in enumerate(cells[:i + 1 if symmetric else n]):
                try:
                    matrix[i][j] = float(e)
                except ValueError as exc:
                    raise ValueError("invalid element at row "
                                     f"{i + 1}, column {j + 1}") from exc
                if symmetric:
                    matrix[j][i] = matrix[i][j]
        if row_labels is not None and len(row_labels) < n:
            # missing trailing rows are implicit zeros (the reference's
            # padding rule); their labels are blank — without this the
            # square emission below would index past the labels read
            row_labels += [""] * (n - len(row_labels))

    cols, schema = ["i", "j"], "i int, j int"
    if row_labels is not None:
        cols.append("row_label")
        schema += ", row_label string"
    if col_labels is not None:
        cols.append("col_label")
        schema += ", col_label string"
    schema += ", dist double"
    rows = []
    for i in range(n):
        for j in range(n):
            r: list = [i, j]
            if row_labels is not None:
                r.append(row_labels[i])
            if col_labels is not None:
                r.append(col_labels[j])
            r.append(matrix[i][j])
            rows.append(tuple(r))
    out = local_frame(spark, rows, schema)
    out.dst_meta = {"n": n, "axis": axis, "symmetric": symmetric}
    return out


#: pair bound of the driver-side .dst writers
DST_MAX_PAIRS = 2_000_000


def _lower_triangle(pairs: DataFrame, id_a: str, id_b: str, dist_col: str,
                    who: str, *, diagonal: bool):
    """``(ids, tri)`` of a pair frame of at most :data:`DST_MAX_PAIRS`
    rows: its sorted distinct ids (as ``collect()`` gives them) and the
    lower triangle over them, with or without the ``diagonal``.  A NULL
    distance is 0; an absent cell is 0 with the diagonal, else None."""
    from pyspark.sql import functions as F

    tbl = fetch_capped(pairs.select(id_a, id_b,
                                    F.col(dist_col).cast("double")),
                       DST_MAX_PAIRS)
    if tbl is None:
        raise ValueError(f"{who} is driver-side; > {DST_MAX_PAIRS} "
                         "pairs. Use parquet for large matrices.")
    a, b = arrow_values(tbl.column(0)), arrow_values(tbl.column(1))
    ids = sorted(set(a) | set(b))
    pos = {v: k for k, v in enumerate(ids)}
    tri = [[0.0] * (i + 1) if diagonal else [None] * i
           for i in range(len(ids))]
    for u, v, d in zip(a, b, tbl.column(2).to_pylist()):
        i, j = max(pos[u], pos[v]), min(pos[u], pos[v])
        if diagonal or i != j:
            tri[i][j] = 0.0 if d is None else d
    return ids, tri


def write_dst(pairs: DataFrame, path: str, *, id_a: str = "id_a",
              id_b: str = "id_b", dist_col: str = "dist", axis: int = 1,
              labels: dict | None = None) -> None:
    """Write a symmetric long-form distance frame to .dst
    (``distmatrix.py:359-388`` layout: header + row_labels + lower
    triangle).  Items are the distinct ids of both pair columns in
    sorted order; ``labels`` optionally maps id → label (default
    ``str(id)``).  Pairs may cover any subset — absent cells write 0,
    mirroring the reader's zero-padding.  Driver-side, bounded."""
    ids, tri = _lower_triangle(pairs, id_a, id_b, dist_col, ".dst writer",
                               diagonal=True)
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(f"{len(ids)}\taxis={axis}\trow_labels\n")
        for i, v in enumerate(ids):
            lab = str(labels[v] if labels is not None else v)
            # .dst cannot represent blank or whitespace-padded labels:
            # readers (reference distmatrix.py:222 and ours alike) strip
            # each line BEFORE splitting on tabs, so a leading-blank
            # label swallows the tab and shifts every cell one column
            # left.  Refuse to write a file that cannot round-trip.
            if not lab or lab != lab.strip() or "\t" in lab or "\n" in lab:
                raise ValueError(
                    f"label {lab!r} for id {v!r} is not representable in "
                    ".dst (must be non-empty, tab/newline-free, and "
                    "carry no leading/trailing whitespace)")
            fh.write(lab + "\t"
                     + "\t".join(repr(x) for x in tri[i]) + "\n")


def read_dst_xlsx(spark: SparkSession, path: str, *,
                  sheet: str | int | None = None,
                  symmetricize: bool = True,
                  max_cells: int = 4_000_000) -> DataFrame:
    """Distance matrix from an .xlsx sheet — the reference's second
    matrix format (``Orange/misc/_distmatrix_xlsx.py:read_matrix``):
    trim empty border rows/columns, detect row/column labels (a border
    vector is labels iff any entry past the first fails float()), blank
    cells are missing.  ``symmetricize`` then applies the widget's
    ``auto_symmetricized`` rule (``distmatrix.py:227-281``): when
    exactly one triangle is populated and the shape is square or off by
    one, mirror it (padding the short axis, zeroing a missing diagonal).

    Returns the same long form as :func:`read_dst` (missing cells →
    NULL dist); numeric-looking labels are inherently ambiguous in this
    format (no header flags) — same contract as the reference."""
    import numpy as np

    from orange3_spark.sources.xlsx import read_grid

    grid = read_grid(path, sheet)
    width = max((max(r) + 1 for r in grid if r), default=0)
    cells = [[r.get(j) for j in range(width)] for r in grid]
    keep_r = [i for i, row in enumerate(cells)
              if any(v is not None for v in row)]
    if not keep_r:
        raise ValueError("empty sheet")
    cells = cells[keep_r[0]:keep_r[-1] + 1]
    keep_c = [j for j in range(width)
              if any(row[j] is not None for row in cells)]
    cells = [row[keep_c[0]:keep_c[-1] + 1] for row in cells]

    def get_labels(vec):
        try:
            for v in vec[1:]:
                v is None or float(v)
        except ValueError:
            return ["?" if v is None else str(v) for v in vec]
        return None

    col_labels = get_labels(cells[0])
    row_labels = get_labels([row[0] for row in cells])
    if col_labels and row_labels:
        col_labels, row_labels = col_labels[1:], row_labels[1:]
    body = cells[int(bool(col_labels)):]
    body = [row[int(bool(row_labels)):] for row in body]
    h, w = len(body), len(body[0]) if body else 0
    if h * w > max_cells:
        raise ValueError(
            f".dst xlsx reader is driver-side; {h}x{w} > {max_cells} "
            "cells. Store large matrices long-form in parquet.")
    M = np.full((h, w), np.nan)
    for i, row in enumerate(body):
        for j, v in enumerate(row):
            if v is None or (isinstance(v, str) and not v.strip()):
                continue
            try:
                M[i, j] = float(v)
            except ValueError as exc:
                raise ValueError(
                    f"invalid data in cell row {i + 1}, "
                    f"column {j + 1}") from exc

    did_sym = False
    if symmetricize and abs(h - w) <= 1:
        nans = np.isnan(M)
        low = np.tril_indices(h, -1)
        high = np.triu_indices(w, 1)
        low_empty = bool(np.all(nans[tuple(
            ix[(low[0] < h) & (low[1] < w)] for ix in low)])) \
            if h and w else True
        high_empty = bool(np.all(nans[tuple(
            ix[(high[0] < h) & (high[1] < w)] for ix in high)])) \
            if h and w else True
        if low_empty != high_empty:
            if h < w:      # upper triangle stored, one row short: pad
                row_pad = np.concatenate([M[:, -1], [0.0]])
                M = np.vstack([M, row_pad[None, :w]])
            elif w < h:    # lower triangle stored, one col short: pad
                col_pad = np.concatenate([M[-1, :], [0.0]])
                M = np.hstack([M, col_pad[:h, None]])
            if h != w:     # a padded matrix may lack its diagonal
                d = np.diag_indices(M.shape[0])
                M[d] = np.nan_to_num(M[d])
                h = w = M.shape[0]
            idx = np.tril_indices(h, -1) if low_empty \
                else np.triu_indices(h, 1)
            M[idx] = M.T[idx]
            did_sym = True

    n_rows, n_cols = M.shape
    cols, schema = ["i", "j"], "i int, j int"
    if row_labels is not None:
        schema += ", row_label string"
    if col_labels is not None:
        schema += ", col_label string"
    schema += ", dist double"
    rows = []
    for i in range(n_rows):
        for j in range(n_cols):
            r: list = [i, j]
            if row_labels is not None:
                r.append(row_labels[i] if i < len(row_labels) else None)
            if col_labels is not None:
                r.append(col_labels[j] if j < len(col_labels) else None)
            v = M[i, j]
            r.append(None if np.isnan(v) else float(v))
            rows.append(tuple(r))
    out = local_frame(spark, rows, schema)
    out.dst_meta = {"n_rows": int(n_rows), "n_cols": int(n_cols),
                    "symmetricized": did_sym}
    return out


def write_dst_xlsx(pairs: DataFrame, path: str, *, id_a: str = "id_a",
                   id_b: str = "id_b", dist_col: str = "dist",
                   labels: dict | None = None) -> None:
    """Write a symmetric long-form distance frame to .xlsx in the
    reference's layout (``_distmatrix_xlsx.py:write_matrix``): row
    labels in column A, strict lower triangle (no diagonal when it is
    all zeros — ours always is), numeric cells.  Driver-side, bounded.

    Numeric ids make ambiguous labels on read-back (this format has no
    header flags — reference contract); pass ``labels`` mapping ids to
    non-numeric strings when round-tripping matters."""
    from orange3_spark.sources.xlsx import write_grid

    ids, tri = _lower_triangle(pairs, id_a, id_b, dist_col,
                               ".dst xlsx writer", diagonal=False)
    grid = []
    for i, v in enumerate(ids):
        lab = labels[v] if labels is not None else str(v)
        grid.append([str(lab)] + tri[i])
    write_grid(path, grid)
