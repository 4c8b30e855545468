"""Phase-4 source/sink tests: statement grammar end-to-end on
synthetic text (FIXTURES.md §3/4 shapes), workbook cleaning +
validation + positional attach, directory routing."""

from __future__ import annotations

import os
from datetime import date, datetime

import pytest
from pyspark.sql import functions as F

from pythondataingestionprocess_spark.sources import files as srcfiles
from pythondataingestionprocess_spark.sources import statement as stmt
from pythondataingestionprocess_spark.sources import workbook as wb

STATEMENT_TEXT = """ESTADO DE CUENTA BBVA
COMPRAS Y CARGOS DIFERIDOS A MESES SIN INTERESES
01-ago-2025 AMAZON MX COMPRA $1,234.56 $823.04 $411.52 2 de 3 0.00%
15-jul-2025 LIVERPOOL MUEBLES $10,000.00 $5,000.00 $2,500.00 6 de 12 12.50%
COMPRAS Y CARGOS DIFERIDOS A MESES CON INTERESES
CARGOS,COMPRAS Y ABONOS REGULARES(NO A MESES)
17-sep-2025 18-sep-2025 OXXO CENTRO + $189.50
05-sep-2025 06-sep-2025 PAGO TARJETA GRACIAS - $2,000.00
99-xxx-2025 01-sep-2025 RARO PARSE FALLA + $1.00
TOTAL CARGOS
"""


@pytest.fixture()
def stmt_df(spark):
    return spark.createDataFrame([("s1.pdf", STATEMENT_TEXT)], "path string, text string")


def test_parse_msi(stmt_df):
    rows = {r["Descripción"]: r for r in stmt.parse_msi(stmt_df).collect()}
    assert set(rows) == {"AMAZON MX COMPRA", "LIVERPOOL MUEBLES"}
    a = rows["AMAZON MX COMPRA"]
    assert a["Fecha operación"] == date(2025, 8, 1)
    assert a["Monto original"] == 1234.56
    assert a["Saldo pendiente"] == 823.04
    assert a["Pago requerido"] == 411.52
    assert a["Núm. de pago"] == "2 de 3"
    assert a["Tasa de interés aplicable"] == "0.00%"
    assert a["path"] == "s1.pdf"  # lineage column preserved


def test_parse_charges_signs_and_fallback(stmt_df):
    out = stmt.parse_charges(stmt_df).collect()
    by_desc = {r["Descripción"]: r for r in out}
    assert by_desc["OXXO CENTRO"]["Pago requerido"] == 189.50
    assert by_desc["PAGO TARJETA GRACIAS"]["Pago requerido"] == -2000.00
    # unparseable date: parsed NULL, raw preserved (string-or-date union)
    weird = by_desc["RARO PARSE FALLA"]
    assert weird["Fecha de la operación"] is None
    assert weird["Fecha de la operación raw"] == "99-xxx-2025"
    assert by_desc["OXXO CENTRO"]["Fecha de cargo"] == date(2025, 9, 18)


def test_statement_output_name(stmt_df):
    charges = stmt.parse_charges(stmt_df)
    # max parsed operation date = 17-sep-2025 → ddMMMyyyy
    assert stmt.statement_output_name(charges) == "cargos_bbva_17Sep2025.xlsx"


def test_statement_output_name_fallback(spark):
    empty = spark.createDataFrame([], "`Fecha de la operación` date")
    name = stmt.statement_output_name(empty, today=date(2026, 1, 2))
    assert name == "cargos_bbva_02Jan2026.xlsx"


def test_validate_columns_degrades(spark):
    df = spark.createDataFrame([("x",)], "`Descripción` string")
    out, ok = wb.validate_columns(df, wb.REQUIRED_PRECIOS)
    assert not ok
    assert set(("Marca", "Categoria")) <= set(out.columns)
    assert out.first()["Marca"] is None


def test_clean_compras_types(spark):
    df = spark.createDataFrame(
        [("Toy", "2", "93,35", "186,70", "45369", "None", "http://x", "f", 0)],
        "`Descripción` string, `Cant` string, `C. Unit` string, "
        "`Total Cmpr` string, `Fch Cmpr` string, `Fch Entrga` string, "
        "`Liga` string, src_file string, row_idx long",
    )
    out = wb.clean_compras(df).first()
    assert out["C. Unit"] == 93.35  # comma-decimal F6
    assert out["Cant"] == 2
    assert out["purchase_date"] == date(2024, 3, 18)  # Excel serial F18
    assert out["Fch Entrga"] is None  # 'None' marker F7


def test_attach_positional_truncation(spark):
    df = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], "row_idx long, v string")
    out = wb.attach_positional(df, ["u0", "u1"])  # shorter than frame
    got = {r["row_idx"]: r["Picture_URL"] for r in out.collect()}
    assert got == {0: "u0", 1: "u1", 2: None}


def test_directory_routing(tmp_path):
    inbox = tmp_path / "in"
    inbox.mkdir()
    (inbox / "good.xlsx").write_text("ok")
    (inbox / "bad.xlsx").write_text("boom")
    (inbox / "skip.txt").write_text("not a workbook")

    def process(path: str) -> None:
        if "bad" in path:
            raise ValueError("poison")

    report = srcfiles.ingest_directory(
        str(inbox), process, str(tmp_path / "done"), str(tmp_path / "err")
    )
    assert [os.path.basename(p) for p in report.processed] == ["good.xlsx"]
    assert [os.path.basename(p) for p in report.errored] == ["bad.xlsx"]
    assert (inbox / "skip.txt").exists()  # P7: non-xlsx untouched

    # collision: same name again → timestamp suffix, both retained
    (inbox / "good.xlsx").write_text("ok2")
    report2 = srcfiles.ingest_directory(
        str(inbox), process, str(tmp_path / "done"), str(tmp_path / "err")
    )
    assert len(report2.processed) == 1
    assert os.path.basename(report2.processed[0]).startswith("good_")
    assert len(list((tmp_path / "done").iterdir())) == 2


def test_archive_collisions_within_one_second_keep_every_file(tmp_path, monkeypatch):
    """The collision suffix has one-second resolution: a third file of
    one name archived within that second must get a fresh name, not
    replace the second one."""

    class _FrozenClock(datetime):
        @classmethod
        def now(cls, tz=None):
            return cls(2024, 1, 2, 3, 4, 5)

    monkeypatch.setattr(srcfiles, "datetime", _FrozenClock)
    inbox, done = tmp_path / "in", str(tmp_path / "done")
    inbox.mkdir()
    for body in ("first", "second", "third"):
        (inbox / "a.xlsx").write_text(body)
        srcfiles.move_file(str(inbox / "a.xlsx"), True, done, str(tmp_path / "err"))
    kept = sorted(p.read_text() for p in (tmp_path / "done").iterdir())
    assert kept == ["first", "second", "third"]


def _make_statement_pdf(page_texts: list[list[str]], compress: bool) -> bytes:
    """Minimal valid PDF (catalog → pages → page + content stream per
    page); one Td+Tj per line, raw or FlateDecode streams."""
    import zlib

    objs: list[bytes] = []
    n_pages = len(page_texts)
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()
    )
    for i, lines in enumerate(page_texts):
        content = b"BT /F1 10 Tf 50 700 Td "
        for ln in lines:
            esc = (
                ln.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")
            )
            content += b"(" + esc.encode("latin-1") + b") Tj 0 -12 Td "
        content += b"ET"
        if compress:
            z = zlib.compress(content)
            stream = (
                f"<< /Length {len(z)} /Filter /FlateDecode >>\nstream\n".encode()
                + z + b"\nendstream"
            )
        else:
            stream = (
                f"<< /Length {len(content)} >>\nstream\n".encode()
                + content + b"\nendstream"
            )
        objs.append(
            f"<< /Type /Page /Parent 2 0 R /Contents {4 + 2 * i} 0 R "
            "/MediaBox [0 0 612 792] >>".encode()
        )
        objs.append(stream)
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for idx, body in enumerate(objs, 1):
        offsets.append(len(out))
        out += f"{idx} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n0000000000 65535 f \n".encode()
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF\n".encode()
    )
    return bytes(out)


def test_pdf_statement_end_to_end_real_file(spark, tmp_path):
    """S1 for real: binaryFile scan → stdlib PDF text extraction
    (sources/pdf_lite.py fallback; PyMuPDF preferred when present) →
    the full statement grammar, on actual .pdf files on disk — one
    raw-stream, one FlateDecode. The path that was import-gated
    through round 5 (accent bytes exercise the latin-1 decode)."""
    pages = [
        ["COMPRAS Y CARGOS DIFERIDOS A MESES SIN INTERESES",
         "05-ene-2024 LIVERPOOL MUEBLES $4,500.00 $3,000.00 $375.00 4 de 12 0.0%",
         "COMPRAS Y CARGOS DIFERIDOS A MESES CON INTERESES"],
        ["CARGOS,COMPRAS Y ABONOS REGULARES(NO A MESES)",
         "03-feb-2024 04-feb-2024 OXXO MONTERREY + $89.90",
         "10-feb-2024 11-feb-2024 PAGO TARJETA (GRACIAS) - $1,200.00",
         "TOTAL CARGOS"],
    ]
    d = tmp_path / "pdfs"
    d.mkdir()
    (d / "raw.pdf").write_bytes(_make_statement_pdf(pages, compress=False))
    (d / "flate.pdf").write_bytes(_make_statement_pdf(pages, compress=True))

    text_df = stmt.extract_pdf_text(spark, str(d / "*.pdf"))
    assert text_df.count() == 2

    msi = stmt.parse_msi(text_df).collect()
    assert len(msi) == 2  # one MSI line per file
    assert all(r["Descripción"] == "LIVERPOOL MUEBLES" for r in msi)
    assert all(r["Monto original"] == 4500.0 for r in msi)
    assert all(str(r["Fecha operación"]) == "2024-01-05" for r in msi)

    charges = stmt.parse_charges(text_df)
    rows = charges.collect()
    assert len(rows) == 4  # two charge lines per file
    by_desc = {r["Descripción"]: r["Pago requerido"] for r in rows}
    assert by_desc["OXXO MONTERREY"] == 89.9
    assert by_desc["PAGO TARJETA (GRACIAS)"] == -1200.0
    # S8 dynamic naming rides the same frame
    assert stmt.statement_output_name(charges) == "cargos_bbva_10Feb2024.xlsx"


def _make_cid_pdf(
    lines: list[str],
    with_tounicode: bool,
    font_name: str = "F1",
    indirect_font_dict: bool = False,
) -> bytes:
    """Minimal Type0/Identity-H PDF: every char is shown as the 2-byte
    glyph code ord(c)+0x1000 (so a latin-1-naive extractor reads pure
    garbage). With ``with_tounicode`` a /ToUnicode CMap maps the codes
    back (one bfrange for printable ASCII + bfchar entries for the
    rest); without it the bytes are undecodable glyph ids — the
    quarantine case (VERDICT r6 item 3). ``font_name`` exercises
    generator-style names (/C2_0); ``indirect_font_dict`` routes the
    page's /Font through an indirect object reference instead of an
    inline dict."""
    import zlib

    content = f"BT /{font_name} 10 Tf 50 700 Td ".encode()
    extra_chars = set()
    for ln in lines:
        codes = b"".join((ord(c) + 0x1000).to_bytes(2, "big") for c in ln)
        content += b"<" + codes.hex().encode() + b"> Tj 0 -12 Td "
        extra_chars |= {c for c in ln if not (0x20 <= ord(c) <= 0x7E)}
    content += b"ET"
    z = zlib.compress(content)

    if indirect_font_dict:
        # page → /Font 7 0 R; object 7 holds the name→font-obj dict
        resources = b"/Resources << /Font 7 0 R >> "
    else:
        resources = (
            f"/Resources << /Font << /{font_name} 5 0 R >> >> ".encode()
        )
    objs: list[bytes] = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
        + resources
        + b"/MediaBox [0 0 612 792] >>",
        f"<< /Length {len(z)} /Filter /FlateDecode >>\nstream\n".encode()
        + z + b"\nendstream",
    ]
    font = (b"<< /Type /Font /Subtype /Type0 /BaseFont /Fake "
            b"/Encoding /Identity-H")
    if with_tounicode:
        font += b" /ToUnicode 6 0 R"
    font += b" >>"
    objs.append(font)
    if with_tounicode:
        bfchars = "".join(
            f"<{ord(c) + 0x1000:04X}> <{ord(c):04X}>\n" for c in extra_chars
        )
        cmap = (
            "/CIDInit /ProcSet findresource begin\n"
            "begincmap\n"
            "1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
            "1 beginbfrange\n<1020> <107E> <0020>\nendbfrange\n"
            + (f"{len(extra_chars)} beginbfchar\n{bfchars}endbfchar\n"
               if extra_chars else "")
            + "endcmap\nend\n"
        ).encode()
        objs.append(
            f"<< /Length {len(cmap)} >>\nstream\n".encode()
            + cmap + b"\nendstream"
        )
    if indirect_font_dict:
        while len(objs) < 6:  # keep the dict at object 7
            objs.append(b"<< >>")
        objs.append(f"<< /{font_name} 5 0 R >>".encode())
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for idx, body in enumerate(objs, 1):
        offsets.append(len(out))
        out += f"{idx} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n0000000000 65535 f \n".encode()
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF\n".encode()
    )
    return bytes(out)


def test_cid_pdf_with_tounicode_decodes_through_cmap(spark, tmp_path):
    """A Type0/Identity-H statement WITH an embedded ToUnicode CMap —
    the common generated-statement shape — must decode to real text
    (bfrange + bfchar paths both exercised by the accented char) and
    parse through the full statement grammar, confidence 1.0."""
    from pythondataingestionprocess_spark.sources import pdf_lite

    lines = [
        "CARGOS,COMPRAS Y ABONOS REGULARES(NO A MESES)",
        "03-feb-2024 04-feb-2024 CAFÉ OXXO + $89.90",
        "TOTAL CARGOS",
    ]
    data = _make_cid_pdf(lines, with_tounicode=True)
    text, conf, status = pdf_lite.extract_with_confidence(data)
    assert status == "ok" and conf == 1.0
    for ln in lines:
        assert ln in text

    d = tmp_path / "pdfs"
    d.mkdir()
    (d / "cid.pdf").write_bytes(data)
    df = stmt.extract_pdf_text(spark, str(d / "*.pdf"))
    row = df.collect()[0]
    assert row["decode_status"] == "ok"
    assert row["decode_confidence"] == 1.0
    charges = stmt.parse_charges(df.filter("decode_status = 'ok'")).collect()
    assert len(charges) == 1
    assert charges[0]["Descripción"] == "CAFÉ OXXO"
    assert charges[0]["Pago requerido"] == 89.9


def test_cid_pdf_without_tounicode_is_quarantined(spark, tmp_path):
    """A Type0 PDF with NO ToUnicode CMap extracts glyph ids, not
    characters — it must surface confidence 0.0 / 'quarantine' so the
    mojibake never silently enters the corpus, while a standard PDF
    in the same scan stays 'ok' (VERDICT r6 item 3)."""
    from pythondataingestionprocess_spark.sources import pdf_lite

    garbage = _make_cid_pdf(
        ["03-feb-2024 04-feb-2024 OXXO + $89.90"], with_tounicode=False
    )
    text, conf, status = pdf_lite.extract_with_confidence(garbage)
    assert status == "quarantine" and conf == 0.0
    assert "OXXO" not in text

    d = tmp_path / "pdfs"
    d.mkdir()
    (d / "bad_cid.pdf").write_bytes(garbage)
    (d / "good.pdf").write_bytes(
        _make_statement_pdf(
            [["CARGOS,COMPRAS Y ABONOS REGULARES(NO A MESES)",
              "03-feb-2024 04-feb-2024 OXXO MTY + $10.00",
              "TOTAL CARGOS"]],
            compress=True,
        )
    )
    df = stmt.extract_pdf_text(spark, str(d / "*.pdf"))
    by_path = {r["path"].rsplit("/", 1)[-1]: r for r in df.collect()}
    assert by_path["bad_cid.pdf"]["decode_status"] == "quarantine"
    assert by_path["good.pdf"]["decode_status"] == "ok"
    assert by_path["good.pdf"]["decode_confidence"] == 1.0
    # the parse gate: only 'ok' files reach the grammar
    ok_charges = stmt.parse_charges(
        df.filter("decode_status = 'ok'")
    ).collect()
    assert [r["Descripción"] for r in ok_charges] == ["OXXO MTY"]


def test_two_sheet_excel_sink_roundtrip_real_file(spark, tmp_path):
    """S7 for real: the two-sheet sink writes an actual .xlsx (stdlib
    codec when openpyxl is absent) whose sheets, headers, and cell
    values read back intact."""
    from pythondataingestionprocess_spark.sources import xlsx_lite

    msi = spark.createDataFrame(
        [("TELMEX 3/6", 450.5), ("LIVERPOOL 2/12", 1200.0)],
        "concepto string, monto double",
    )
    charges = spark.createDataFrame(
        [("OXXO", 89.9)], "concepto string, monto double"
    )
    out = str(tmp_path / "statement.xlsx")
    stmt.write_two_sheet_excel(msi, charges, out)

    book = xlsx_lite.read_sheets(out)
    assert list(book) == ["msi", "compras"]
    assert book["msi"]["rows"][0] == ["concepto", "monto"]
    assert book["msi"]["rows"][1] == ["TELMEX 3/6", "450.5"]
    assert book["compras"]["rows"][1] == ["OXXO", "89.9"]


def test_two_sheet_excel_sink_size_guard(spark, tmp_path):
    """The driver-side sink must fail LOUD when misused on a frame
    past the row bound, before any toPandas()/collect() OOMs the
    driver (r14 VERDICT item 7) — and the explicit max_rows override
    still works for legitimately larger exports."""
    import pytest

    big = spark.range(6).selectExpr("cast(id as string) concepto",
                                    "cast(id as double) monto")
    small = spark.createDataFrame([("OXXO", 1.0)],
                                  "concepto string, monto double")
    out = str(tmp_path / "guarded.xlsx")
    with pytest.raises(ValueError, match="exceeds 5 rows"):
        stmt.write_two_sheet_excel(big, small, out, max_rows=5)
    # charges sheet is guarded too
    with pytest.raises(ValueError, match="'compras' exceeds"):
        stmt.write_two_sheet_excel(small, big, out, max_rows=5)
    # raising the bound explicitly unblocks the export
    stmt.write_two_sheet_excel(big, small, out, max_rows=6)
    from pythondataingestionprocess_spark.sources import xlsx_lite

    book = xlsx_lite.read_sheets(out)
    assert len(book["msi"]["rows"]) == 7  # header + 6


def test_read_workbook_real_file_end_to_end(spark, tmp_path):
    """S2/S3/S4 against a REAL .xlsx on disk: sheet decode, the
    Preview hyperlink side-channel, positional attach, and the full
    cleaning contract (comma decimals, Excel serial dates) — the path
    that was import-gated through round 5."""
    from pythondataingestionprocess_spark.sources import xlsx_lite

    path = str(tmp_path / "inventory.xlsx")
    xlsx_lite.write_workbook(
        path,
        [
            ("Compras", [
                ["Descripción", "Cant", "C. Unit", "Total Cmpr", "Fch Cmpr"],
                ["Toy A", 2, "93,35", "186,7", 45369],
                ["Toy B", 1, "7", "7", 45370],
            ]),
            ("Precios", [
                ["Descripción", "Marca", "Categoria", "Preview"],
                ["Toy A", "Acme", "toys", "img"],
                ["Toy B", "Acme", "toys", None],
            ]),
        ],
        {"Precios": {(1, 3): "https://example.com/a.jpg"}},
    )

    compras, precios, links = wb.read_workbook(spark, path)
    # S3: hyperlink targets in data-row order; rows without one → None
    assert links == ["https://example.com/a.jpg", None]

    cleaned = wb.clean_compras(compras).orderBy("row_idx").collect()
    assert [r["C. Unit"] for r in cleaned] == [93.35, 7.0]   # F6 comma decimal
    assert str(cleaned[0]["purchase_date"]) == "2024-03-18"  # F18 serial date
    assert [r["row_idx"] for r in cleaned] == [0, 1]         # O2 row order

    # S4: positional attach onto Precios by row order
    attached = wb.attach_positional(precios, links).orderBy("row_idx").collect()
    assert attached[0]["Picture_URL"] == "https://example.com/a.jpg"
    assert attached[1]["Picture_URL"] is None


def test_python_datasource_statement_pipeline(spark, tmp_path):
    """PySpark-4 Python DataSource end-to-end: drop statement .txt
    files, spark.read.format('stmt_text') → grammar parse → typed
    tables. One partition per file."""
    from pythondataingestionprocess_spark.sources import datasource

    d = tmp_path / "stmts"
    d.mkdir()
    (d / "a.txt").write_text(STATEMENT_TEXT)
    (d / "b.txt").write_text(STATEMENT_TEXT.replace("OXXO CENTRO", "SORIANA SUR"))

    datasource.register(spark)
    raw = spark.read.format("stmt_text").load(str(d))
    assert raw.count() == 2
    assert raw.rdd.getNumPartitions() == 2  # one file per task

    charges = stmt.parse_charges(raw)
    by = {(r["path"].split("/")[-1], r["Descripción"]) for r in charges.collect()}
    assert ("a.txt", "OXXO CENTRO") in by
    assert ("b.txt", "SORIANA SUR") in by
    assert len(by) == 6  # 3 charge lines per file


def test_parquet_schema_evolution_mergeschema(spark, tmp_path):
    """Schema evolution at the storage layer: a later batch adds a
    column; mergeSchema=true reads the union schema with NULLs for the
    old batch — the at-rest upgrade path for a long-lived 100 TB table
    (at which scale you set spark.sql.parquet.mergeSchema selectively:
    footer-merging every file on every read is its own scan tax)."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, name string").write.mode(
        "append"
    ).parquet(path)
    spark.createDataFrame(
        [(2, "b", 3.5)], "id long, name string, score double"
    ).write.mode("append").parquet(path)

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"id", "name", "score"}
    rows = {r.id: r for r in merged.collect()}
    assert rows[1].score is None and abs(rows[2].score - 3.5) < 1e-12
    # column pruning still works through the merged schema
    plan = merged.select("id").filter(F.col("id") > 1)._jdf.queryExecution().executedPlan().toString()
    assert "score" not in plan


def test_cid_pdf_generator_layouts_do_not_fail_open():
    """The r7 code-review findings: (a) an INDIRECT /Font resource
    reference (`/Resources << /Font 7 0 R >>`) must still resolve the
    CMap; (b) generator font names with underscores (/C2_0) must
    match the resource scanner; (c) a Type0 document whose font the
    resolver CANNOT bind must fail CLOSED into the quarantine, never
    decode glyph ids as latin-1 at confidence 1.0."""
    from pythondataingestionprocess_spark.sources import pdf_lite

    line = "03-feb-2024 04-feb-2024 OXXO + $89.90"

    # (a) indirect font dict, CMap present → decodes fine
    text, conf, status = pdf_lite.extract_with_confidence(
        _make_cid_pdf([line], with_tounicode=True, indirect_font_dict=True)
    )
    assert status == "ok" and conf == 1.0 and line in text

    # (b) underscore font name, CMap present → decodes fine
    text, conf, status = pdf_lite.extract_with_confidence(
        _make_cid_pdf([line], with_tounicode=True, font_name="C2_0")
    )
    assert status == "ok" and conf == 1.0 and line in text

    # (c) Type0 declared but the resource dict is unresolvable (name
    # mismatch between content stream and resources) → quarantine
    broken = _make_cid_pdf([line], with_tounicode=True).replace(
        b"/Font << /F1 5 0 R >>", b"/Font << /G9 5 0 R >>"
    )
    text, conf, status = pdf_lite.extract_with_confidence(broken)
    assert status == "quarantine" and conf == 0.0
    assert "OXXO" not in text


def test_pdf_extract_is_total_over_garbage_bytes():
    """One poison file must never fail an ingest batch: arbitrary
    bytes, a truncated PDF, and an overflowing bfrange destination all
    come back as a quarantine verdict (or degraded glyphs), never an
    exception."""
    from pythondataingestionprocess_spark.sources import pdf_lite

    for blob in [
        b"",
        b"\x00\xff" * 100,
        b"%PDF-1.4\n1 0 obj\n<< /Type /Catalog\nstream\n\xde\xad",
        _make_cid_pdf(["x"], with_tounicode=True).replace(
            b"<1020> <107E> <0020>", b"<1020> <107E> <FFFF>"
        ),  # range overflows its 2-byte destination width mid-range
    ]:
        text, conf, status = pdf_lite.extract_with_confidence(blob)
        assert status in ("ok", "quarantine")
        assert 0.0 <= conf <= 1.0


def test_xlsx_lite_optional_r_attributes(tmp_path):
    """r13 review: ECMA-376 makes the r attribute OPTIONAL on <row>
    and <c> (position = previous + 1); streaming writers omit it. The
    old reader crashed on an r-less row and silently DROPPED an r-less
    cell's value (column -1). Strip every r attribute from a written
    sheet and assert the grid reads back identically."""
    import re
    import zipfile

    from pythondataingestionprocess_spark.sources import xlsx_lite

    src = str(tmp_path / "with_r.xlsx")
    rows = [["h1", "h2", "h3"], ["a", "b", None], [None, "e", "f"]]
    xlsx_lite.write_workbook(src, [("S", rows)])
    # rebuild the zip with r attributes stripped from rows and cells.
    # NOTE: dropping r from a SPARSE row shifts its cells left
    # (position = previous+1 fills gaps) — strip only rows whose cells
    # are contiguous from column A, which is the shape streaming
    # writers emit. Row 2 here is sparse, so keep its cell refs but
    # strip the row-level r.
    dst = str(tmp_path / "without_r.xlsx")
    with zipfile.ZipFile(src) as zin, zipfile.ZipFile(dst, "w") as zout:
        for item in zin.namelist():
            data = zin.read(item)
            if item == "xl/worksheets/sheet1.xml":
                xml = data.decode()
                xml = re.sub(r'<row r="\d+">', "<row>", xml)
                # strip cell refs on the dense rows (1 and 2)
                xml = re.sub(r'<c r="[A-C][12]" ', "<c ", xml)
                xml = re.sub(r'<c r="[A-C][12]">', "<c>", xml)
                data = xml.encode()
            zout.writestr(item, data)
    book = xlsx_lite.read_sheets(dst)
    assert book["S"]["rows"] == rows


def test_xlsx_lite_quotes_in_sheet_name_and_hyperlink(tmp_path):
    """r13 review: sax escape() leaves double quotes alone, so a sheet
    name (legal in Excel) or hyperlink URL containing one produced
    malformed XML no reader could open. quoteattr roundtrips both."""
    from pythondataingestionprocess_spark.sources import xlsx_lite

    path = str(tmp_path / "q.xlsx")
    name = 'my "best" sheet'
    url = 'https://ex.com/?q="quoted"&x=1'
    xlsx_lite.write_workbook(
        path,
        [(name, [["h"], ["v"]])],
        hyperlinks={name: {(1, 0): url}},
    )
    book = xlsx_lite.read_sheets(path)
    assert book[name]["rows"] == [["h"], ["v"]]
    assert book[name]["hyperlinks"] == {(1, 0): url}
