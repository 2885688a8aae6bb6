"""Manifest sinks with byte-parity to the reference's exporters.

* :func:`write_hash_json` — reproduces ``JSONExporter``
  (``/root/reference/lib/hashio/exporter.py:70-137``) byte-for-byte:
  ``{\\n`` header, one ``    "path": <json indent=8>,\\n`` entry per row,
  close-time fixup stripping the trailing ``,\\n`` and writing ``\\n}``.
* :func:`write_txt` — ``TXTExporter`` (``exporter.py:306-364``):
  ``"<hash> <path>"`` lines.
* :func:`write_mhl` — ``MHLExporter`` (``exporter.py:184-303``).
* :func:`read_hash_json` / :func:`read_txt` / :func:`read_mhl` — the
  matching readers.

Each format has ONE formatter (``hash_json_text``, ``txt_text``,
``mhl_text``) over ``(key, digest, ...)`` tuples sorted by the key's
string form (:func:`sorted_entries`).  A writer takes either a DataFrame,
which it collects, or rows the caller already collected — the CLI hands
over the report rows it read for its summary line, so an export runs no
Spark job.

Scale note: these sinks exist for interoperability with the reference's
manifest files (small, per-partition or per-run).  They collect to the
driver deliberately — a 10^12-row manifest lives in the Iceberg manifest
table (``manifest_store``), not in a JSON file; the distributed path for
bulk output is ``df.write.json/parquet`` (:func:`txt_lines_df`).
"""

from __future__ import annotations

import json
from collections.abc import Sequence

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

Rows = DataFrame | Sequence[Row]


def sorted_entries(data: Rows, key_col: str, digest_col: str = "digest",
                   extra_cols: tuple[str, ...] = ()) -> list[tuple]:
    """``(key, digest, *extras)`` per row, sorted by the key's string form.

    A DataFrame is collected here with its key cast to string by Spark;
    collected rows get ``str(key)``, which is the same string for the
    string and integral keys manifests use.  Python orders ``str`` by
    code point, the order Spark's UTF-8 byte comparison gives, so both
    inputs sort alike (``"10" < "2"``); null keys sort first, as in
    Spark's ascending order."""
    if isinstance(data, DataFrame):
        data = data.select(F.col(key_col).cast("string").alias(key_col), digest_col,
                           *extra_cols).collect()
    out = [
        (None if r[key_col] is None else str(r[key_col]), r[digest_col], *(r[c] for c in extra_cols))
        for r in data
    ]
    out.sort(key=lambda e: (e[0] is not None, e[0] or ""))
    return out


def hash_json_text(entries: list[tuple], algo: str, meta_cols: tuple[str, ...] = ()) -> str:
    """HASH.json text of :func:`sorted_entries` output.  An entry mirrors
    the reference manifest entry (``exporter.py:111-133``): the metadata
    fields, then one ``<algo>: <hexdigest>`` field."""
    if not entries:
        # the reference's trailing-comma fixup would truncate the "{\n"
        # header and leave invalid JSON for an empty manifest
        return "{\n}"
    body = "".join(
        '    "{0}": {1},\n'.format(k, json.dumps({**dict(zip(meta_cols, meta)), algo: d}, indent=8))
        for k, d, *meta in entries
    )
    # close-time fixup (exporter.py:82-95): strip trailing ",\n", add "\n}"
    return "{\n" + body[:-2] + "\n}"


def txt_text(entries: list[tuple]) -> str:
    """``"<hash> <path>"`` lines (TXTExporter.write, exporter.py:351-364)."""
    return "".join(f"{d} {k}\n" for k, d, *_ in entries)


def mhl_text(entries: list[tuple], algo: str = "md5", with_size: bool = False,
             with_mtime: bool = False, hashdate: int = 0) -> str:
    """MHL 1.1 hashlist text: one ``<hash>`` element per
    ``(key, digest[, size][, mtime])`` entry."""
    import xml.etree.ElementTree as ET
    from datetime import datetime, timezone

    def ts(v: float) -> str:
        return datetime.fromtimestamp(int(v), tz=timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")

    out = ['<?xml version="1.0" encoding="UTF-8"?>\n<hashlist version="1.1">\n']
    for k, d, *extra in entries:
        size = extra.pop(0) if with_size else None
        mtime = extra.pop(0) if with_mtime else None
        h = ET.Element("hash")
        if with_mtime:
            ET.SubElement(h, "lastmodificationdate").text = ts(mtime)
        if with_size:
            ET.SubElement(h, "size").text = str(size)
        ET.SubElement(h, algo).text = d
        ET.SubElement(h, "hashdate").text = ts(hashdate)
        ET.SubElement(h, "file").text = k
        ET.indent(h, space="  ")
        out.append(ET.tostring(h, encoding="unicode") + "\n")
    out.append("</hashlist>\n")
    return "".join(out)


def _write(path: str, text: str) -> None:
    with open(path, "w") as f:
        f.write(text)


def write_hash_json(df: Rows, path: str, key_col: str, algo: str,
                    digest_col: str = "digest", meta_cols: tuple[str, ...] = ()) -> None:
    """Write a reference-byte-compatible HASH.json manifest."""
    entries = sorted_entries(df, key_col, digest_col, meta_cols)
    _write(path, hash_json_text(entries, algo, meta_cols))


def read_hash_json(path: str) -> dict:
    with open(path) as fp:
        return json.load(fp)


def write_txt(df: Rows, path: str, key_col: str, digest_col: str = "digest") -> None:
    """``"<hash> <path>"`` flat lines (TXTExporter.write, exporter.py:351-364)."""
    _write(path, txt_text(sorted_entries(df, key_col, digest_col)))


def read_txt(path: str, algo: str) -> dict:
    """TXTExporter.read parity (exporter.py:321-345)."""
    result: dict[str, dict] = {}
    with open(path) as f:
        for line in f:
            parts = line.strip().split(" ", 1)
            if len(parts) == 2:
                checksum, key = parts
                result[key] = {algo: checksum}
    return result


def write_mhl(
    df: Rows, path: str, key_col: str, digest_col: str = "digest",
    algo: str = "md5", size_col: str | None = None, mtime_col: str | None = None,
    hashdate: int = 0,
) -> None:
    """MHL 1.1 hashlist export (``MHLExporter``,
    ``/root/reference/lib/hashio/exporter.py:184-303``): ``<hashlist
    version="1.1">`` with one ``<hash>`` element per row containing
    ``file``/``hashdate``/``<algo>``/optional ``size``/
    ``lastmodificationdate``.  stdlib ``xml.etree`` (lxml not required);
    ``hashdate`` is caller-supplied for determinism (the reference stamps
    now())."""
    extra = tuple(c for c in (size_col, mtime_col) if c)
    entries = sorted_entries(df, key_col, digest_col, extra)
    _write(path, mhl_text(entries, algo, size_col is not None, mtime_col is not None, hashdate))


def read_mhl(path: str, algo: str = "md5") -> dict:
    """MHLExporter.read parity: path-keyed dict of hash entries."""
    import xml.etree.ElementTree as ET

    tree = ET.parse(path)
    out = {}
    for h in tree.getroot().findall("hash"):
        key = h.findtext("file")
        out[key] = {
            "hashdate": h.findtext("hashdate"),
            "lastmodificationdate": h.findtext("lastmodificationdate"),
            "size": int(h.findtext("size", default="0") or 0),
            "file": key,
            algo: h.findtext(algo, default=""),
        }
    return out


def txt_lines_df(df: DataFrame, key_col: str, digest_col: str = "digest") -> DataFrame:
    """Distributed TXT formatting — use ``.write.text(...)`` on the result
    for bulk export (the scale path; ordering is per-partition)."""
    return df.select(F.concat_ws(" ", F.col(digest_col), F.col(key_col).cast("string")).alias("value"))


# ---------------------------------------------------------------------------
# Exporter registry (reference S9: get_caching_class / extension dispatch,
# /root/reference/lib/hashio/exporter.py:367-397) — a new sink plugs in the
# same way a new digest algo does.
# ---------------------------------------------------------------------------

class ExporterRegistry:
    """Extension → (writer, reader) dispatch.

    ``writer(df, path, key_col, algo, digest_col)`` (``df`` a DataFrame
    or already collected rows) and
    ``reader(path, algo) -> dict``; registered like encoders so callers
    resolve a sink from the output filename alone."""

    def __init__(self) -> None:
        self._by_ext: dict[str, tuple] = {}

    def register(self, ext: str, writer, reader) -> None:
        self._by_ext[ext.lower().lstrip(".")] = (writer, reader)

    def for_path(self, path: str) -> tuple:
        ext = path.rsplit(".", 1)[-1].lower() if "." in path else ""
        if ext not in self._by_ext:
            raise ValueError(f"no exporter registered for extension: .{ext or '<none>'}")
        return self._by_ext[ext]

    def write(self, df: Rows, path: str, key_col: str, algo: str = "md5",
              digest_col: str = "digest") -> None:
        writer, _ = self.for_path(path)
        writer(df, path, key_col, algo, digest_col)

    def read(self, path: str, algo: str = "md5") -> dict:
        _, reader = self.for_path(path)
        return reader(path, algo)

    def extensions(self) -> tuple[str, ...]:
        return tuple(sorted(self._by_ext))


def _w_json(df, path, key_col, algo, digest_col):
    write_hash_json(df, path, key_col, algo, digest_col)


def _r_json(path, algo):
    return read_hash_json(path)


def _w_txt(df, path, key_col, algo, digest_col):
    write_txt(df, path, key_col, digest_col)


def _w_mhl(df, path, key_col, algo, digest_col):
    write_mhl(df, path, key_col, digest_col, algo)


EXPORTERS = ExporterRegistry()
EXPORTERS.register("json", _w_json, _r_json)
EXPORTERS.register("txt", _w_txt, read_txt)
EXPORTERS.register("mhl", _w_mhl, read_mhl)
