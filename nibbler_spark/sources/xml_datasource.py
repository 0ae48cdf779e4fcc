"""XML as a first-class Spark DataSource — `format("nibbler_xml")`.

`spark-xml` is an external package absent from this environment (the
same gap spark-avro had), so the engine ships its own: a Spark 4 Python
DataSource over stdlib `xml.etree` serving flat row documents

    <rows>
      <row><o_orderkey>1</o_orderkey><o_totalprice>10.5</o_totalprice></row>
      ...
    </rows>

Typed columns come from the required ``ddl`` option (a Spark DDL
string); NULL is represented by an absent child element. Double values
round-trip losslessly: the writer serializes via ``repr`` (shortest
exact decimal) and the reader parses with ``float``.

Scale shape mirrors the Avro DataSource: the driver lists file NAMES
only and declares one input partition per file — parsing runs on
executors, no payload bytes cross the driver; the writer encodes each
task partition into its own document and commits via the standard
two-phase write/commit/abort protocol (temp files become visible only
in the driver-side commit rename).
"""

from __future__ import annotations

import os
import uuid
import xml.etree.ElementTree as ET

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)


def _xml_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    return sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".xml")
    )


def _from_text(text: str | None, typ: str):
    if text is None:
        return None
    if typ in ("bigint", "long", "int", "integer"):
        return int(text)
    if typ == "double":
        return float(text)
    if typ == "boolean":
        return text == "true"
    return text


class XmlDataSource(DataSource):
    """format("nibbler_xml") — flat-row XML documents."""

    @classmethod
    def name(cls) -> str:
        return "nibbler_xml"

    def schema(self) -> str:
        ddl = self.options.get("ddl")
        if ddl:
            return ddl
        # inference fallback: every tag of the first row, as strings
        files = _xml_files(self.options.get("path"))
        if not files:
            raise ValueError("nibbler_xml: empty path and no ddl option")
        # empty task partitions legitimately write row-less documents —
        # scan until a file with a row is found
        for f in files:
            first = next(iter(ET.parse(f).getroot()), None)
            if first is not None:
                return ", ".join(f"{child.tag} string" for child in first)
        raise ValueError("nibbler_xml: no rows to infer from")

    def reader(self, schema) -> "XmlReader":
        return XmlReader(self.options, schema)

    def writer(self, schema, overwrite: bool) -> "XmlWriter":
        return XmlWriter(self.options, schema, overwrite)


class XmlReader(DataSourceReader):
    def __init__(self, options, schema) -> None:
        self.path = options.get("path")
        self.fields = [
            (f.name, f.dataType.simpleString()) for f in schema.fields
        ]

    def partitions(self):
        return [InputPartition(f) for f in _xml_files(self.path)]

    def read(self, partition):
        root = ET.parse(partition.value).getroot()
        for row in root:
            by_tag = {child.tag: child.text for child in row}
            yield tuple(
                _from_text(by_tag.get(n), t) for n, t in self.fields
            )


class XmlCommit(WriterCommitMessage):
    def __init__(self, final_name: str, tmp_name: str) -> None:
        self.final_name = final_name
        self.tmp_name = tmp_name


class XmlWriter(DataSourceWriter):
    def __init__(self, options, schema, overwrite: bool) -> None:
        self.path = options.get("path")
        self.fields = [
            (f.name, f.dataType.simpleString()) for f in schema.fields
        ]
        os.makedirs(self.path, exist_ok=True)
        if overwrite:
            for f in _xml_files(self.path):
                os.remove(f)

    def write(self, iterator) -> XmlCommit:
        root = ET.Element("rows")
        for row in iterator:
            el = ET.SubElement(root, "row")
            for name, typ in self.fields:
                v = row[name]
                if v is None:
                    continue
                child = ET.SubElement(el, name)
                if typ == "double":
                    child.text = repr(float(v))
                elif typ == "boolean":
                    child.text = "true" if v else "false"
                else:
                    child.text = str(v)
        part = uuid.uuid4().hex[:12]
        tmp = os.path.join(self.path, f".part-{part}.xml.tmp")
        ET.ElementTree(root).write(tmp, encoding="utf-8")
        return XmlCommit(f"part-{part}.xml", os.path.basename(tmp))

    def commit(self, messages) -> None:
        for m in messages:
            os.rename(
                os.path.join(self.path, m.tmp_name),
                os.path.join(self.path, m.final_name),
            )

    def abort(self, messages) -> None:
        for m in messages:
            try:
                os.remove(os.path.join(self.path, m.tmp_name))
            except OSError:
                pass


def register_xml_source(spark) -> None:
    spark.dataSource.register(XmlDataSource)
