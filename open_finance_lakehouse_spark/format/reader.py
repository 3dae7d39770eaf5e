"""The one Arrow reader of frost data files (pyarrow only, no Spark).

Two callers share it: the frost DataSource reads each planned file on an
executor, and ``LakeTable.scan`` reads small plans on the driver.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq


def read_file(path: str, schema: pa.Schema) -> pa.Table:
    """One parquet file as an Arrow table of exactly ``schema``.

    Reads ONLY the columns the schema asks for (``columns=`` hits parquet
    column-chunk granularity): a metadata-only read through
    ``clip_id string, dur_ms int`` never decodes the ~60 KB ``bytes``
    payload column. Columns written under an older, narrower schema are
    cast up to the read schema's type, and columns the file predates
    become all-null arrays."""
    pf = pq.ParquetFile(path)
    avail = set(pf.schema_arrow.names)
    table = pf.read(columns=[f.name for f in schema if f.name in avail])
    cols = [table.column(f.name).cast(f.type)
            if f.name in table.column_names else pa.nulls(len(table), f.type)
            for f in schema]
    return pa.table(dict(zip(schema.names, cols)), schema=schema)
