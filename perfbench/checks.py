"""Output checks of a run, in DuckDB.

A result is summarised by a canonical digest: its row count and the sum of
one hash per row, over the columns in name order with every number cast to
DOUBLE, every date and timestamp to TIMESTAMP text and every other non-text
value to its text form. Two results with the same rows, whatever their column order,
row order or integer and decimal widths, get the same digest; this is the
equality tools/check.py applies (columns by name, rows sorted, values equal
as numbers). The committed digests in digests.json are those of the DuckDB
oracle (`SparkEntry.oracleSql`) on each workload's exact inputs; make_digests.py
writes them.
"""
import glob
import os

NUMERIC = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT",
           "USMALLINT", "UINTEGER", "UBIGINT", "FLOAT", "DOUBLE", "DECIMAL", "BOOLEAN")


def connect(tables, memory="2GB", threads=2):
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET memory_limit='{memory}'")
    con.execute(f"SET threads={threads}")
    for name, path in tables.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM {scan(path)}")
    return con


def scan(path):
    """read_parquet over a table file or a directory of parts."""
    if os.path.isdir(path):
        return f"read_parquet('{os.path.join(path, '*.parquet')}')"
    return f"read_parquet('{path}')"


def parts(path):
    return sorted(glob.glob(os.path.join(path, "*.parquet")))


def quote(name):
    return '"' + name.replace('"', '""') + '"'


def canonical(name, typ):
    q = quote(name)
    if typ.startswith(NUMERIC):
        return f"CAST({q} AS DOUBLE)"
    if typ.startswith("TIMESTAMP") or typ == "DATE":
        return f"CAST(CAST({q} AS TIMESTAMP) AS VARCHAR)"
    if typ == "VARCHAR":
        return q
    return f"CAST({q} AS VARCHAR)"


def digest(con, relation):
    """{"rows": n, "digest": text} of the rows `relation` (a SELECT or a
    table function) yields."""
    cols = sorted(con.execute(f"DESCRIBE SELECT * FROM ({relation})").fetchall())
    row = "hash(" + ", ".join(canonical(c[0], c[1]) for c in cols) + ")"
    n, h = con.execute(f"SELECT count(*), CAST(coalesce(sum(CAST({row} AS HUGEINT)), 0) "
                       f"AS VARCHAR) FROM ({relation})").fetchone()
    return {"rows": n, "digest": h}


def output_digest(con, out):
    """Digest of a query op's Spark output directory, or None if it wrote
    no files."""
    files = parts(out)
    return digest(con, f"SELECT * FROM read_parquet({files!r})") if files else None


# The AliasPublish root of the meta records starts each run with history: a
# crashed publish's orphan and two published versions, all older than what
# the pass publishes. The pass's vacuum (keep = 2, as in Workloads.scala)
# then has versions to delete.
VACUUM_KEEP = 2
PLANTED_ORPHAN = 1
PLANTED_PUBLISHED = (2, 3)


def plant_history(root):
    os.makedirs(os.path.join(root, f"v={PLANTED_ORPHAN}"))
    for v in PLANTED_PUBLISHED:
        os.makedirs(os.path.join(root, f"v={v}"))
        open(os.path.join(root, f"v={v}", "_PUBLISHED"), "w").close()


def versions(root):
    """Version directories under an AliasPublish root, ascending."""
    vs = [os.path.basename(d)[2:] for d in glob.glob(os.path.join(root, "v=*"))]
    return sorted(int(v) for v in vs if v.isdigit())


def published(root):
    """Published versions under an AliasPublish root, ascending."""
    return [v for v in versions(root)
            if os.path.exists(os.path.join(root, f"v={v}", "_PUBLISHED"))]


def sink_relation(con, name, sink_dir, source_out):
    """The records a sink op left, as a relation with the source's columns,
    or None for the vacuum, which leaves none of its own."""
    src_cols = con.execute(f"DESCRIBE SELECT * FROM read_parquet({parts(source_out)!r})").fetchall()
    if name.startswith("write_occ"):
        per_key = name == "write_occ_per_species"
        files = sorted(glob.glob(os.path.join(sink_dir, "*", "*.json") if per_key
                                 else os.path.join(sink_dir, "*.json")))
        cols = {c[0]: c[1] for c in src_cols if not (per_key and c[0] == "species")}
        spec = "{" + ", ".join(f"'{k}': '{v}'" for k, v in cols.items()) + "}"
        return (f"SELECT * FROM read_json({files!r}, format='newline_delimited', "
                f"columns={spec}, hive_partitioning={str(per_key).lower()})")
    if name == "upsert_bio_report":
        files = sorted(glob.glob(os.path.join(sink_dir, "*", "*.parquet")))
        return f"SELECT * FROM read_parquet({files!r}, hive_partitioning=true)"
    if name == "publish_meta_records":
        vs = published(sink_dir)
        if not vs or vs[-1] <= max(PLANTED_PUBLISHED):
            raise ValueError(f"the pass published no version (published: {vs})")
        files = parts(os.path.join(sink_dir, f"v={vs[-1]}"))
        return f"SELECT * FROM read_parquet({files!r}, hive_partitioning=false)"
    return None


def check_sink(con, name, sink_dir, source_out):
    """None when the sink's records read back equal the rows it was given
    (and, for the vacuum, exactly the newest VACUUM_KEEP published versions
    remain, the pass's own among them, and nothing older), else why not."""
    if name == "vacuum_meta_records":
        vs, left = published(sink_dir), versions(sink_dir)
        if (len(vs) != VACUUM_KEEP or vs[-1] <= max(PLANTED_PUBLISHED)
                or any(v < vs[0] for v in left)):
            return f"after vacuum: published {vs}, versions left {left}"
        return None
    want = output_digest(con, source_out)
    got = digest(con, sink_relation(con, name, sink_dir, source_out))
    if want is None:
        return "the source wrote no rows file"
    if got != want:
        return f"read back {got['rows']} records, the source had {want['rows']}; digests differ"
    return None


def parquet_rows(out):
    """Row count of an output directory, from the parquet footers."""
    import pyarrow.parquet as pq
    return sum(pq.ParquetFile(f).metadata.num_rows for f in parts(out))
