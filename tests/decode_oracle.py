"""Cell-by-cell rows-event walker: the decode oracle for
``colsplit.decode_batch_arrow``.

``walk_rows`` reads a rows event one image at a time: the image's null
bitmap, then every present non-NULL cell through ``codec.cell_bytes``.
It shares none of the columnar kernel's code. ``decode_oracle`` runs it
over every rows frame of a batch under the kernel's dead-letter rules
and sends every other frame through ``decode.decode_batch``.
"""

import bisect
import struct

from binlog_spark.operators import colsplit as CS
from binlog_spark.operators import decode as D
from binlog_spark.wire import constants as C
from binlog_spark.wire import events as E
from binlog_spark.wire.codec import cell_bytes, read_lenenc_int, to_text
from binlog_spark.wire.collations import source_codec

# wire types a declared column charset decodes (GEOMETRY is binary)
_TEXT_TYPES = {C.TYPE_VARCHAR, C.TYPE_VARSTRING, C.TYPE_STRING,
               C.TYPE_TINYBLOB, C.TYPE_MEDIUMBLOB, C.TYPE_LONGBLOB,
               C.TYPE_BLOB}


def _rows_header(fmt, etype, body):
    """-> (offset of the first presence bitmap, column count)."""
    pos = fmt.header_length + (4 if fmt.header_size(etype) == 6 else 6)
    pos += 2  # rows flags
    if etype in C.ROWS_V2_TYPES:
        pos += int.from_bytes(body[pos:pos + 2], "little")
    ncols, pos = read_lenenc_int(body, pos)
    return pos, ncols


def walk_rows(fmt, etype, body, types, metadata, unsigned, names,
              collations=None):
    """``(before, after)`` maps of every row of a ROWS event ``body``
    (checksum stripped): ``{name: text | None}`` per image, absent
    columns left out, SQL NULL as ``None``, and ``None`` for an image
    the event type does not carry. A text cell of a column whose
    collation has a non-UTF-8 source codec decodes with that codec.

    Raises ValueError with the dead-letter reason when the event has no
    present column but row bytes, and when the cursor passes the body's
    end; a cell ``cell_bytes`` refuses raises its own error."""
    pos, ncols = _rows_header(fmt, etype, body)
    nb = (ncols + 7) // 8
    images = []
    for has in (etype in C.UPDATE_ROWS_TYPES or etype in C.DELETE_ROWS_TYPES,
                etype in C.WRITE_ROWS_TYPES or etype in C.UPDATE_ROWS_TYPES):
        if has:
            bits = int.from_bytes(body[pos:pos + nb], "little")
            images.append([c for c in range(ncols) if bits >> c & 1])
            pos += nb
        else:
            images.append(None)
    if not any(images) and pos < len(body):
        raise ValueError("rows event with no present columns")
    codecs = ([source_codec(c) for c in collations] if collations
              else [None] * ncols)

    def overrun_check():
        if pos > len(body):
            raise ValueError("rows event overruns its body")

    rows = []
    while pos < len(body):
        row = []
        for present in images:
            if present is None:
                row.append(None)
                continue
            null_nb = (len(present) + 7) // 8
            nulls = int.from_bytes(body[pos:pos + null_nb], "little")
            pos += null_nb
            image = {}
            for j, c in enumerate(present):
                overrun_check()
                if nulls >> j & 1:
                    image[names[c]] = None
                    continue
                raw, ln = cell_bytes(body, pos, types[c], metadata[c],
                                     unsigned[c])
                pos += ln
                image[names[c]] = (
                    raw.decode(codecs[c], "replace")
                    if codecs[c] and types[c] in _TEXT_TYPES
                    else to_text(raw))
            overrun_check()
            row.append(image)
        rows.append(tuple(row))
    return rows


def decode_oracle(pdf, ctx):
    """DECODE_OUTPUT rows of a frames DataFrame (file, pos, frame) under
    ``ctx`` (``decode.build_decode_context``), as a pandas DataFrame.

    A valid rows frame is a dead letter when no TABLE_MAP at an earlier
    position resolves its table id, when its column count differs from
    the TABLE_MAP's, when the schema provider has no columns for its
    table, and when ``walk_rows`` raises (the error's text is the
    reason); otherwise each of its rows is a change row. Every other
    frame goes through ``decode.decode_batch``."""
    fmt, tmaps, tmap_keys, name_index, mapper, _ = ctx
    rows, others = [], []
    for k, (file, pos, frame) in enumerate(
            zip(pdf["file"], pdf["pos"], pdf["frame"])):
        if not E.is_valid_frame(frame) or frame[4] not in C.ROWS_EVENT_TYPES:
            others.append(k)
            continue
        ts, etype, _, _, next_pos, _ = E.parse_header(frame)
        head = (file, int(pos), int(next_pos), int(ts))

        def dead(reason):
            rows.append(D._aux(*head, None, "deadletter", reason=reason))

        body = E.strip_checksum(fmt, etype, frame)
        table_id = E.parse_table_id(fmt, etype, body)
        key = (file, table_id)
        vi = (bisect.bisect_right(tmap_keys[key], pos) - 1
              if tmaps.get(key) else -1)
        if vi < 0:
            dead(f"no TABLE_MAP for id {table_id}")
            continue
        db, tbl, types, metadata = tmaps[key][vi][1]
        if _rows_header(fmt, etype, body)[1] != len(types):
            dead("column count mismatch")
            continue
        names_uns = D._resolve_names(name_index, mapper, db, tbl, len(types))
        if names_uns is None:
            dead(CS._unresolved_reason(name_index, mapper, db, tbl))
            continue
        names, unsigned, collations = names_uns
        try:
            image_rows = walk_rows(fmt, etype, body, types, metadata,
                                   unsigned, names, collations)
        except (IndexError, ValueError, struct.error) as e:
            dead(str(e))
            continue
        op = ("I" if etype in C.WRITE_ROWS_TYPES else
              "U" if etype in C.UPDATE_ROWS_TYPES else "D")
        for seq, (before, after) in enumerate(image_rows):
            rows.append((None, None, None, *head, op, db, tbl, before, after,
                         seq, "change", None, None))
    return D.decode_batch(pdf.iloc[others], ctx, extra_rows=rows)
