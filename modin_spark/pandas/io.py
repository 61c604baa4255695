"""Readers/writers (reference: /root/reference/modin/core/io/ — there a
hand-rolled byte-splitting parallel reader per format; here each maps to the
corresponding parallel Spark source, which already does split planning,
predicate pushdown and schema pruning)."""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import functions as F

from modin_spark.core.frame import SparkFrame
from modin_spark.pandas.dataframe import DataFrame
from modin_spark.pandas.series import Series
from modin_spark.session import get_spark


def _nano_ts_cols(path: str) -> list[str]:
    """Columns stored as TIMESTAMP(NANOS) — cheap driver-side footer read of
    one file; Spark rejects the type unless ``nanosAsLong`` is set."""
    import glob as _glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    candidates = sorted(_glob.glob(os.path.join(path, "*.parquet"))) if os.path.isdir(path) else [path]
    if not candidates:
        return []
    schema = pq.read_schema(candidates[0])
    ns_names = {f.name for f in schema if pa.types.is_timestamp(f.type) and f.type.unit == "ns"}
    if not ns_names:
        return []
    # pyarrow also reports Spark-written INT96 timestamps as ns — those Spark
    # reads natively; only true INT64 TIMESTAMP(NANOS) needs the legacy path
    pf_schema = pq.ParquetFile(candidates[0]).schema
    int64_ns = set()
    for i in range(len(pf_schema)):
        col = pf_schema.column(i)
        if col.name in ns_names and col.physical_type == "INT64":
            int64_ns.add(col.name)
    return [f.name for f in schema if f.name in int64_ns]


# (path, mtime) -> analyzed base scan. Spark DataFrames are immutable plan
# handles, so sharing one across calls is safe; re-reading the same path
# otherwise pays file listing + footer/schema jobs on every query. Keyed by
# mtime so an overwritten file invalidates naturally. Wrappers (SparkFrame /
# DataFrame) are still built fresh per call — only the scan plan is shared.
_SCAN_CACHE: dict = {}


def _parquet_scan(path: str):
    import os

    spark = get_spark()
    try:
        st = os.stat(path)
        key = (path, st.st_mtime_ns, id(spark))
    except OSError:
        key = None
    if key in _SCAN_CACHE:
        return _SCAN_CACHE[key]
    sdf = _parquet_scan_uncached(spark, path)
    if key is not None:
        _SCAN_CACHE[key] = sdf
    return sdf


def _parquet_scan_uncached(spark, path: str):
    nano_cols = _nano_ts_cols(path)
    if nano_cols:
        # nanos come in as int64 (legacy conf), cast back to µs timestamps;
        # the scan itself stays fully distributed
        prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            sdf = spark.read.parquet(path)
            for c in nano_cols:
                # integer `div`, not `/`: epoch-nanos exceed double's 2^53
                # exact range, so float division can truncate off-by-1µs
                sdf = sdf.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        finally:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
    else:
        sdf = spark.read.parquet(path)
    return sdf


_NONNULL_CACHE: dict = {}


def _parquet_nonnull_cols(path: str) -> frozenset:
    """Source columns whose parquet FOOTERS prove zero nulls (every row
    group carries statistics with null_count == 0). Driver-side metadata
    read only — no data IO; the proof feeds statistics-driven merge
    planning (plain `=` equi-join instead of the NaN-matching `<=>`)."""
    import os

    try:
        st = os.stat(path)
        key = (path, st.st_mtime_ns)
    except OSError:
        return frozenset()
    if key in _NONNULL_CACHE:
        return _NONNULL_CACHE[key]
    out: frozenset = frozenset()
    try:
        import pyarrow.parquet as pq

        if os.path.isdir(path):
            files = [
                os.path.join(path, f) for f in sorted(os.listdir(path)) if f.endswith(".parquet")
            ]
        else:
            files = [path]
        if files and len(files) <= 512:  # bound driver footer-read time
            # Per-file proven sets INTERSECTED: under schema evolution a file
            # that lacks the column entirely reads as all-null for its rows,
            # so a column absent from any file must be vetoed (it carries no
            # null_count==0 evidence there).
            per_file: list[frozenset] = []
            for f in files:
                md = pq.ParquetFile(f).metadata
                proven: dict[str, bool] = {}
                for rg in range(md.num_row_groups):
                    row_group = md.row_group(rg)
                    for ci in range(row_group.num_columns):
                        col = row_group.column(ci)
                        name = col.path_in_schema
                        stats = col.statistics
                        ok = stats is not None and stats.null_count == 0
                        proven[name] = proven.get(name, True) and ok
                per_file.append(frozenset(c for c, ok in proven.items() if ok))
            out = frozenset.intersection(*per_file) if per_file else frozenset()
    except Exception:
        out = frozenset()
    _NONNULL_CACHE[key] = out
    return out


def read_parquet(path, columns=None, filters=None) -> DataFrame:
    if isinstance(path, (list, tuple)):
        # pandas accepts a list of files; one multi-path scan (single job)
        sdf = get_spark().read.parquet(*[str(p) for p in path])
        from modin_spark.core.frame import SparkFrame as _SF

        out0 = DataFrame(_frame=_SF.from_spark(sdf))
        if columns is not None:
            out0 = out0[list(columns)]
        return out0
    sdf = _parquet_scan(path)
    if columns is not None:
        sdf = sdf.select(*columns)  # column pruning reaches the scan
    if filters is not None:
        # pandas read_parquet filters: [(col, op, val), ...] conjunction (or a
        # list of such lists = disjunction of conjunctions). Expressed as
        # WHERE clauses below the order projection — Catalyst pushes them
        # into the parquet scan (PushedFilters / row-group pruning).
        ops = {
            "==": lambda c, v: c == v, "=": lambda c, v: c == v,
            "!=": lambda c, v: c != v, "<": lambda c, v: c < v,
            "<=": lambda c, v: c <= v, ">": lambda c, v: c > v,
            ">=": lambda c, v: c >= v,
            "in": lambda c, v: c.isin(list(v)),
            "not in": lambda c, v: ~c.isin(list(v)),
        }
        groups = filters if filters and isinstance(filters[0], list) else [filters]
        disj = None
        for grp in groups:
            conj = None
            for col, op, val in grp:
                e = ops[op](F.col(col), val)
                conj = e if conj is None else (conj & e)
            disj = conj if disj is None else (disj | conj)
        sdf = sdf.where(disj)
    fr = SparkFrame.from_spark(sdf)
    nn = _parquet_nonnull_cols(path)
    if nn:
        fr.nonnull_cols = frozenset(
            p for lbl, p in zip(fr.columns, fr.data_cols) if lbl in nn
        )
    return DataFrame(_frame=fr)


def read_csv(path: str, sep: str = ",", header: int | str = "infer", names=None, dtype=None,
             usecols=None, nrows=None, skiprows=None, parse_dates=None,
             index_col=None, na_values=None, thousands=None, chunksize=None,
             iterator: bool = False, comment: str | None = None,
             quotechar: str = '"', encoding: str | None = None,
             dtype_backend=None, **kw) -> DataFrame:
    from pyspark.sql import functions as F

    if chunksize is not None or iterator:
        # pandas' chunked-read protocol is driver-sequential by definition
        # (each chunk is consumed before the next is parsed) — delegate to
        # the pandas reader and wrap each chunk as an engine frame, exactly
        # like the reference's default-to-pandas iterator path
        def _chunks():
            rdr = pd.read_csv(
                path, sep=sep, header=header, names=names, dtype=dtype,
                usecols=usecols, nrows=nrows, skiprows=skiprows,
                parse_dates=parse_dates, index_col=index_col,
                na_values=na_values, thousands=thousands,
                chunksize=chunksize, iterator=iterator, **kw)
            for c in rdr:
                yield from_pandas(c)

        return _chunks()

    if isinstance(header, (list, tuple)):
        # MultiIndex column headers: parse ONLY the header lines driver-side
        # with pandas (nrows=0), then read the body distributed with those
        # rows skipped (JVM-side skip) and relabel
        hdr = pd.read_csv(path, sep=sep, header=list(header), nrows=0,
                          quotechar=quotechar, comment=comment, encoding=encoding)
        body = read_csv(path, sep=sep, header=None, dtype=dtype, usecols=usecols,
                        nrows=nrows, skiprows=max(header) + 1, na_values=na_values,
                        thousands=thousands, comment=comment, quotechar=quotechar,
                        encoding=encoding, **kw)
        fr = body._frame
        out = DataFrame(_frame=fr._same_rows(fr.sdf, columns=hdr.columns))
        if index_col is not None:
            out = out.set_index(
                [out.columns[i] for i in (index_col if isinstance(index_col, list) else [index_col])])
        return out
    if sep is None:
        # engine='python' sniffing: sample the first line driver-side
        first = get_spark().read.text(path).limit(1).collect()
        line = first[0][0] if first else ","
        sep = max([",", "\t", ";", "|"], key=line.count)
    reader = (
        get_spark().read.option("sep", sep)
        .option("header", header is not None and header != None)
        # pandas csv dialect doubles quotes inside quoted fields ("" -> ");
        # Spark's default escape is backslash
        .option("escape", quotechar)
        .option("quote", quotechar)
    )
    if comment is not None:
        reader = reader.option("comment", comment)
    if encoding is not None:
        # Spark accepts canonical charset names only (latin-1 -> ISO-8859-1)
        import codecs as _codecs

        canon = {"latin-1": "ISO-8859-1", "latin1": "ISO-8859-1",
                 "utf8": "UTF-8", "utf-8": "UTF-8", "cp1252": "windows-1252"}
        enc = canon.get(encoding.lower(), _codecs.lookup(encoding).name.upper())
        reader = reader.option("encoding", enc)
    if na_values is not None:
        vals = na_values if isinstance(na_values, (list, tuple, set)) else [na_values]
        if len(vals) == 1:
            reader = reader.option("nullValue", str(list(vals)[0]))
    if names is not None:
        # pandas: names= with an EXPLICIT header=0 REPLACES the header row
        # (row 0 consumed); names= with the default 'infer' (or header=None)
        # keeps row 0 as data
        reader = reader.option("header", header == 0)
    if skiprows is not None and (isinstance(skiprows, (list, tuple, set)) or skiprows):
        # pandas counts PHYSICAL lines: drop them from the text first, then
        # csv-parse the remaining lines (header/inferSchema see only the
        # kept lines — spark.read.csv accepts a dataset of strings); an int
        # drops the first N lines, a list drops exactly those line numbers
        txt = SparkFrame.from_spark(
            get_spark().read.text(path)
        ).ensure_order().with_global_position("__rp__")
        if isinstance(skiprows, (list, tuple, set)):
            kept = txt.sdf.where(~F.col("__rp__").isin([int(i) for i in skiprows]))
        elif callable(skiprows):
            # pandas hands the physical line number to the callable; run it
            # Arrow-batched over the position column
            from pyspark.sql.functions import pandas_udf as _pudf

            @_pudf("boolean")
            def _skip(s: pd.Series) -> pd.Series:
                return s.map(lambda i: bool(skiprows(int(i))))

            kept = txt.sdf.where(~_skip(F.col("__rp__")))
        else:
            kept = txt.sdf.where(F.col("__rp__") >= int(skiprows))
        # JVM-side all the way (r11): hand the kept lines to the Scala
        # csv(Dataset[String]) overload via a STRING-encoder cast — the old
        # .rdd.map(lambda) route serialized every line through Python
        # workers; this keeps header/inferSchema semantics identical with
        # zero Python in the plan (asserted in tests/test_io.py)
        from pyspark.sql import DataFrame as _PDF

        jkept = kept.select(F.col(txt.data_cols[0]).alias("value"))._jdf
        jvm = get_spark()._jvm
        jds = getattr(jkept, "as")(jvm.org.apache.spark.sql.Encoders.STRING())
        sdf = _PDF(reader.option("inferSchema", True)._jreader.csv(jds), get_spark())
    else:
        sdf = reader.option("inferSchema", True).csv(path)
    if names is not None:
        sdf = sdf.toDF(*names)
    out = DataFrame(_frame=SparkFrame.from_spark(sdf))
    if kw.get("na_filter", True):
        # pandas parity for NA tokens: Spark's csv reader only nulls the
        # empty string / its single nullValue option, while pandas nulls a
        # whole default token set ('NA', 'null', 'NaN', ...) plus na_values
        # (list = global, dict = per column). A column that becomes numeric
        # once its NA tokens are nulled ('1','2','NA' -> 1.0, 2.0, NaN)
        # must re-infer too. ONE bounded sample job (tiny next to the
        # full-file inferSchema pass the reader already ran) decides which
        # string columns need the rewrite; the rewrite itself is a
        # projection.
        try:
            from pandas.io.parsers.readers import STR_NA_VALUES as _DEF_NA
        except Exception:
            _DEF_NA = {"", "NA", "N/A", "NULL", "null", "NaN", "nan",
                       "None", "n/a", "<NA>"}
        glb, percol = set(), {}
        if na_values is not None:
            if isinstance(na_values, dict):
                percol = {k: {str(x) for x in (v if isinstance(v, (list, tuple, set)) else [v])}
                          for k, v in na_values.items()}
            else:
                glb = {str(x) for x in (na_values if isinstance(na_values, (list, tuple, set))
                                        else [na_values])}
        str_pos = [i for i in range(len(out.columns)) if out._frame.dtype_of(i) == "object"]
        if str_pos:
            import re as _re

            fr0 = out._frame
            samp = fr0.sdf.select(*[fr0.data_cols[i] for i in str_pos]).limit(1000).toPandas()
            dec = str(kw.get("decimal", "."))
            dnum = _re.escape(dec)
            num_pat = _re.compile(rf"^-?(\d+({dnum}\d*)?|{dnum}\d+)([eE][+-]?\d+)?$")
            for i in str_pos:
                label = out.columns[i]
                toks = _DEF_NA | glb | percol.get(label, set())
                col = samp[fr0.data_cols[i]].dropna().astype(str)
                hit = col.isin(toks)
                if not hit.any():
                    continue
                out[label] = out[label].replace({t: None for t in sorted(toks)})
                rest = col[~hit]
                if len(rest) and rest.map(lambda x: bool(num_pat.match(x))).all():
                    s = out[label]
                    if dec != ".":
                        s = s.str.replace(dec, ".", regex=False)
                    # pandas: a numeric column holding NaN materializes as
                    # float64 regardless of integer-looking values
                    out[label] = s.astype("float64")
    if thousands:
        # columns the grouped-digit separator kept as strings: sample-check
        # the shape, then strip + cast (stays a projection)
        import re as _re

        pat = _re.compile(rf"^-?\d{{1,3}}({_re.escape(thousands)}\d{{3}})*(\.\d+)?$")
        sample = out._frame.sdf.limit(100).toPandas()
        for i, c in enumerate(out.columns):
            if out._frame.dtype_of(i) == "object":
                col = sample[out._frame.data_cols[i]].dropna().astype(str)
                if len(col) and col.map(lambda x: bool(pat.match(x))).all():
                    stripped = out[c].str.replace(thousands, "", regex=False)
                    out[c] = stripped.astype(float if col.str.contains(r"\.").any() else "int64")
    if usecols is not None:
        keep = (lambda c: usecols(c)) if callable(usecols) else (lambda c, s=set(usecols): c in s)
        out = out[[c for c in out.columns if keep(c)]]
    if dtype is not None:
        out = out.astype(dtype if isinstance(dtype, dict)
                         else {c: dtype for c in out.columns})
    if parse_dates:
        for c in (parse_dates if isinstance(parse_dates, list) else [parse_dates]):
            out[c] = out[c].astype("datetime64[ns]")
    if nrows is not None:
        out = out.head(int(nrows))
    if index_col is not None and index_col is not False:
        # pandas accepts positions as well as labels
        if isinstance(index_col, int):
            index_col = out.columns[index_col]
        elif isinstance(index_col, (list, tuple)):
            index_col = [out.columns[c] if isinstance(c, int) else c for c in index_col]
        out = out.set_index(index_col)
    if dtype_backend is not None and dtype_backend is not pd.api.extensions.no_default:
        if dtype_backend != "numpy_nullable":
            raise NotImplementedError(f"read_csv dtype_backend {dtype_backend!r}")
        # Spark columns are natively nullable; the pandas nullable dtypes are
        # a MATERIALIZATION concern — record them on the wrapper (same
        # mechanism as nullable-extension ingest)
        _SPARK_TO_NULLABLE = {"int64": "Int64", "int32": "Int32", "int16": "Int16",
                              "float64": "Float64", "float32": "Float32",
                              "bool": "boolean", "object": "string"}
        ext = {}
        for i, c in enumerate(out.columns):
            t = _SPARK_TO_NULLABLE.get(out._frame.dtype_of(i))
            if t:
                ext[c] = pd.api.types.pandas_dtype(t)
        if ext:
            out._to_pandas_ext_dtypes = {**getattr(out, "_to_pandas_ext_dtypes", {}), **ext}
    return out


def read_json(path_or_buf, lines: bool | None = None, orient=None, **kw) -> DataFrame:
    """Distributed JSON/JSONL scan for paths (lines defaults to True there —
    Spark's native shape); inline JSON strings, buffers, and orient=
    variants delegate to the pandas parser (reference: default_to_pandas for
    non-path / oriented JSON) and re-enter as an engine frame."""
    inline = isinstance(path_or_buf, str) and path_or_buf.lstrip()[:1] in ("[", "{")
    if orient == "records" and lines and not inline and not hasattr(path_or_buf, "read"):
        # orient='records' + lines=True IS the Spark-native JSONL shape —
        # stay distributed (also the only reader of the engine's own
        # directory-style to_json output)
        orient = None
    if inline or hasattr(path_or_buf, "read") or orient is not None:
        import io as _io

        src = _io.StringIO(path_or_buf) if inline else path_or_buf
        pdf = pd.read_json(src, orient=orient,
                           lines=bool(lines) if lines is not None else False, **kw)
        return from_pandas(pd.DataFrame(pdf))
    reader = get_spark().read
    if lines is None:
        lines = True
    if not lines:
        reader = reader.option("multiLine", True)
    return DataFrame(_frame=SparkFrame.from_spark(reader.json(path_or_buf)))


def read_orc(path: str, columns=None, **kw) -> DataFrame:
    out = DataFrame(_frame=SparkFrame.from_spark(get_spark().read.orc(path)))
    return out[list(columns)] if columns is not None else out


def read_table(path_or_name: str, sep: str = "\t", **kw) -> DataFrame:
    """pandas ``read_table`` (delimited text, default TSV).  A bare
    identifier naming a saved managed table instead reads that table
    (bucketed reads carry the bucket distribution into joins — no
    re-shuffle); paths always take the text route."""
    looks_like_path = "/" in path_or_name or "." in path_or_name or "*" in path_or_name
    if not looks_like_path and get_spark().catalog.tableExists(path_or_name):
        return DataFrame(_frame=SparkFrame.from_spark(get_spark().table(path_or_name)))
    return read_csv(path_or_name, sep=sep, **kw)


def from_partitions(parts, axis: int = 0) -> DataFrame:
    """Assemble a DataFrame from a list of pandas partitions (reference:
    modin.distributed.dataframe.pandas.from_partitions). Row partitions
    union; column partitions align on position."""
    from modin_spark.pandas.general import concat

    frames = [DataFrame(data=p) if not isinstance(p, DataFrame) else p for p in parts]
    return concat(frames, axis=axis, ignore_index=(axis == 0))


def unwrap_partitions(df: DataFrame, axis: int = 0) -> list:
    """Materialize the frame as a list of pandas partitions (reference:
    modin unwrap_partitions). Arrow egress, one pandas chunk per record
    batch — a driver-side API-parity helper, not a distributed operator."""
    return [b.to_pandas() for b in df.to_arrow().to_batches()]


def from_map(func, iterable, *args) -> DataFrame:
    """Build a DataFrame by applying ``func`` (-> pandas.DataFrame) to each
    element of ``iterable`` IN PARALLEL — one task per element (reference:
    modin from_map, experimental/pandas/io.py). The first element is
    evaluated on the driver only to infer the schema."""
    spark = get_spark()
    items = list(iterable)
    if not items:
        raise ValueError("from_map: empty iterable")
    sample = func(items[0], *args)
    schema = spark.createDataFrame(sample.head(1)).schema

    def gen(x, _func=func, _args=args):
        pdf = _func(x, *_args)
        return [tuple(r) for r in pdf.itertuples(index=False)]

    n_slices = min(len(items), spark.sparkContext.defaultParallelism)
    rdd = spark.sparkContext.parallelize(items, n_slices).flatMap(gen)
    sdf = spark.createDataFrame(rdd, schema=schema)
    return DataFrame(_frame=SparkFrame.from_spark(sdf))


def read_sql(query_or_table: str, con: str, partition_column=None, num_partitions=None, **kw) -> DataFrame:
    """JDBC reader; partitioned when a numeric partition column is given
    (≙ the reference's OFFSET/LIMIT splitting,
    /root/reference/modin/experimental/core/io/sql/sql_dispatcher.py)."""
    if not (isinstance(con, str) and con.startswith("jdbc:")):
        # non-JDBC connections (DBAPI objects, SQLAlchemy URLs/engines) go
        # through pandas on the driver — the reference's non-experimental
        # read_sql does the same (modin/core/io/io.py default-to-pandas);
        # executor-parallel reads require a JDBC url + driver jar.
        return from_pandas(pd.DataFrame(pd.read_sql(query_or_table, con, **kw)))
    reader = get_spark().read.format("jdbc").option("url", con).option("dbtable", query_or_table)
    if partition_column is not None:
        bounds = kw.get("bounds")
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", num_partitions or 8)
            .option("lowerBound", bounds[0])
            .option("upperBound", bounds[1])
        )
    return DataFrame(_frame=SparkFrame.from_spark(reader.load()))


def from_pandas(pdf: pd.DataFrame) -> DataFrame:
    from modin_spark.pandas.dataframe import _masked_ext_dtypes

    out = DataFrame(_frame=SparkFrame.from_pandas(pdf))
    ext = _masked_ext_dtypes(pdf)
    if ext:
        out._to_pandas_ext_dtypes = ext
    cats = {c: d for c, d in pdf.dtypes.items() if isinstance(d, pd.CategoricalDtype)}
    if cats:
        out._cat_meta = cats
        out._to_pandas_ext_dtypes = {**getattr(out, "_to_pandas_ext_dtypes", {}), **cats}
    return out


def from_spark(sdf) -> DataFrame:
    return DataFrame(_frame=SparkFrame.from_spark(sdf))


# formats Spark has no distributed reader for: driver-side pandas, exactly
# like the reference (modin/core/io/io.py:218-677 default-to-pandas readers)
def _pandas_reader(name):
    def reader(*args, **kwargs):
        fn = getattr(pd, name)
        return from_pandas(pd.DataFrame(fn(*args, **kwargs)))

    reader.__name__ = name
    return reader


def read_excel(io_path, sheet_name=0, header=0, names=None, usecols=None,
               skiprows=None, nrows=None, **kw) -> "DataFrame | dict":
    """Parallel xlsx reader (reference: chunked excel dispatcher at
    /root/reference/modin/core/io/text/excel_dispatcher.py — worksheet XML
    split into <row>-aligned byte chunks, parsed by parallel tasks). The
    driver does one zlib decompression pass to cut chunks; XML parsing and
    cell typing run in executor tasks (modin_spark/sources/excel.py).
    Multi-sheet requests (sheet_name=None or a list) return a dict keyed
    like pandas — the given identifier for list entries, the sheet name for
    None — with EACH sheet read through the parallel path (r7). Legacy .xls
    / unsupported kwargs fall back to the driver-side pandas delegate (the
    reference's default_to_pandas hatch)."""
    if (
        not kw
        and isinstance(io_path, (str, os.PathLike))
        and str(io_path).endswith(".xlsx")
        and (sheet_name is None or isinstance(sheet_name, (list, tuple)))
        and (skiprows is None or isinstance(skiprows, int))
    ):
        try:
            import zipfile

            from modin_spark.sources.excel import _sheet_members, read_xlsx_spark

            with zipfile.ZipFile(str(io_path)) as zf:
                all_names = [n for n, _ in _sheet_members(zf)]
            wanted = (
                [(n, n) for n in all_names]
                if sheet_name is None
                else [(s, all_names[s] if isinstance(s, int) else s) for s in sheet_name]
            )
            out = {}
            for key, name in wanted:
                sdf = read_xlsx_spark(
                    str(io_path), sheet_name=name, header=header, names=names,
                    usecols=usecols, skiprows=skiprows or 0, nrows=nrows,
                )
                out[key] = DataFrame(_frame=SparkFrame.from_spark(sdf))
            return out
        except Exception:
            pass  # stdlib parser declined — pandas delegate below
    if (
        not kw
        and isinstance(io_path, (str, os.PathLike))
        and str(io_path).endswith(".xlsx")
        and isinstance(sheet_name, (int, str))
        and (skiprows is None or isinstance(skiprows, int))
    ):
        try:
            from modin_spark.sources.excel import read_xlsx_spark

            sdf = read_xlsx_spark(
                str(io_path), sheet_name=sheet_name, header=header, names=names,
                usecols=usecols, skiprows=skiprows or 0, nrows=nrows,
            )
            return DataFrame(_frame=SparkFrame.from_spark(sdf))
        except Exception:
            pass  # stdlib parser declined — pandas delegate below
    res = pd.read_excel(
        io_path, sheet_name=sheet_name, header=header, names=names,
        usecols=usecols, skiprows=skiprows, nrows=nrows, **kw,
    )
    if isinstance(res, dict):  # multi-sheet delegate returns a dict too
        return {k: from_pandas(pd.DataFrame(v)) for k, v in res.items()}
    return from_pandas(pd.DataFrame(res))
read_html = _pandas_reader("read_html")
read_pickle = _pandas_reader("read_pickle")
def read_xml(path_or_buffer, parser: str = "lxml", **kw) -> DataFrame:
    """Driver delegate like the reference; falls back to the stdlib etree
    parser when lxml (an optional pandas dependency) is absent."""
    try:
        return from_pandas(pd.DataFrame(pd.read_xml(path_or_buffer, parser=parser, **kw)))
    except ImportError:
        return from_pandas(pd.DataFrame(pd.read_xml(path_or_buffer, parser="etree", **kw)))


def read_fwf(filepath_or_buffer, colspecs="infer", widths=None, names=None,
             header=0, **kw) -> DataFrame:
    """Parallel fixed-width reader (reference: text dispatcher chunking,
    /root/reference/modin/core/io/text/text_file_dispatcher.py). The whole
    row path is a native distributed csv line scan + substring/trim/cast
    projections in whole-stage codegen (modin_spark/sources/fwf.py); exotic
    kwargs fall back to the driver-side pandas delegate."""
    if not kw and isinstance(filepath_or_buffer, (str, os.PathLike)) and header in (0, None):
        try:
            from modin_spark.sources.fwf import read_fwf_spark

            sdf = read_fwf_spark(
                str(filepath_or_buffer), colspecs=colspecs, widths=widths,
                names=names, header=header,
            )
            return DataFrame(_frame=SparkFrame.from_spark(sdf))
        except Exception:
            pass  # stdlib parser declined — pandas delegate below
    return from_pandas(pd.DataFrame(pd.read_fwf(
        filepath_or_buffer, colspecs=colspecs, widths=widths, names=names,
        header=header, **kw,
    )))


def read_feather(path, columns=None, **kw) -> DataFrame:
    """Parallel feather (Arrow IPC v2) reader — one executor task per record
    batch (≙ the reference's feather_dispatcher column splits,
    /root/reference/modin/core/io/column_stores/feather_dispatcher.py).

    The driver touches only METADATA (batch count + schema from the IPC
    footer via memory-map — no data pages); each task re-opens the file and
    reads exactly its batch. Requires the path to be visible from executors
    (local mode / shared FS — the same contract as every Spark file source).
    Legacy feather v1 (not IPC-file) falls back to the driver-side pandas
    reader, declared in sources.CAPABILITIES."""
    import pyarrow as pa
    from pyspark.sql import types as T

    spark = get_spark()
    try:
        with pa.memory_map(str(path)) as source:
            reader = pa.ipc.open_file(source)
            n_batches = reader.num_record_batches
            empty = reader.schema.empty_table().to_pandas()
            if columns is not None:
                empty = empty[list(columns)]
    except Exception:
        return from_pandas(pd.DataFrame(pd.read_feather(path, columns=columns, **kw)))

    from modin_spark.core.frame import pandas_dtype_to_spark

    schema = T.StructType(
        [T.StructField(str(c), pandas_dtype_to_spark(empty[c].dtype)) for c in empty.columns]
    )
    cols = list(empty.columns)
    p = str(path)

    def read_batches(batches):
        import pyarrow as pa2

        for pdf in batches:
            with pa2.memory_map(p) as src:
                rd = pa2.ipc.open_file(src)
                for i in pdf.iloc[:, 0]:
                    out = rd.get_batch(int(i)).to_pandas()
                    out.columns = [str(c) for c in out.columns]
                    yield out[cols]

    ids = spark.range(n_batches, numPartitions=max(1, n_batches))
    sdf = ids.mapInPandas(read_batches, schema)
    return DataFrame(_frame=SparkFrame.from_spark(sdf))


def json_normalize(data, **kw) -> DataFrame:
    pdf = pd.json_normalize(data, **kw)
    # ragged records leave float-NaN holes in object columns that otherwise
    # hold lists — Spark can't merge ArrayType with DoubleType, so missing
    # entries become proper nulls before ingest
    for c in pdf.columns:
        if pdf[c].dtype == object:
            s = pdf[c]
            if s.map(lambda v: isinstance(v, (list, tuple))).any():
                pdf[c] = s.map(lambda v: list(v) if isinstance(v, (list, tuple)) else None)
    return from_pandas(pdf)


def from_arrow(table) -> DataFrame:
    """Arrow table -> frame (reference: from_arrow at
    /root/reference/modin/core/dataframe/pandas/dataframe/dataframe.py:4623)."""
    spark = get_spark()
    try:
        sdf = spark.createDataFrame(table)  # Spark 4 accepts pyarrow Tables
    except Exception:
        sdf = spark.createDataFrame(table.to_pandas())
    return DataFrame(_frame=SparkFrame.from_spark(sdf))


def to_pickle(df: DataFrame, path: str) -> None:
    """Driver-side (like the reference's to_pickle, modin/core/io/io.py:713+)."""
    df.to_pandas().to_pickle(path)


def read_sql_table(table_name, con, schema=None, columns=None, **kw) -> DataFrame:
    """read_sql_table (ref modin/pandas/io.py) — routes through the
    partitioned read_sql path."""
    q = f'SELECT * FROM {schema + "." if schema else ""}{table_name}'
    if columns:
        q = f'SELECT {", ".join(columns)} FROM {schema + "." if schema else ""}{table_name}'
    return read_sql(q, con, **kw)


def read_sql_query(sql, con, **kw) -> DataFrame:
    """read_sql_query (ref modin/pandas/io.py) — alias of read_sql for
    query strings."""
    return read_sql(sql, con, **kw)


read_stata = _pandas_reader("read_stata")
read_spss = _pandas_reader("read_spss")
read_sas = _pandas_reader("read_sas")


read_hdf = _pandas_reader("read_hdf")  # requires pytables at call time
read_clipboard = _pandas_reader("read_clipboard")  # requires a display/clipboard at call time


def read_gbq(query, project_id=None, **kw) -> DataFrame:
    """read_gbq parity shim: upstream pandas removed it (use
    pandas-gbq); delegated the same way if that package is present."""
    try:
        import pandas_gbq  # noqa: F401
    except ImportError as e:
        raise ImportError("read_gbq requires the pandas-gbq package") from e
    return from_pandas(pd.DataFrame(pandas_gbq.read_gbq(query, project_id=project_id, **kw)))
