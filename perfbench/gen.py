"""Seeded input generators for the benchmark workloads.

Every generator takes the run's seed and writes files under a work
directory; the program under test only ever sees those files. Each
generator also returns the facts the output checks need (planted
duplicates, expected row counts), derived from what it wrote rather
than from the program.

- :func:`workbooks` writes two-sheet ``.xlsx`` inventory workbooks in
  the FIXTURES.md section 1-2 shapes, with the dirty-value quota, and
  simulates the pipeline's skip rules to predict what each batch stages.
- :func:`stream_docs` writes JSON-lines document files with planted
  one-edit near-duplicates for the streaming dedup screen.
"""

from __future__ import annotations

import json
import os

import numpy as np


# ---- workbooks (FIXTURES.md sections 1-2) -----------------------------

COMPRAS_HEADER = [
    "Descripción", "Cant", "Precio", "% Desc", "C. Unit US", "C. Unit",
    "Total Cmpr", "Env US", "Envio", "Fch Cmpr", "Fch Entrga", "Euro",
    "Dólar", "Dsc US", "Desct", "Pzs", "Costo Final", "Liga", "TOTAL DESC",
    "Cmpr Final", "TOTAL CMPRS",
]
PRECIOS_HEADER = [
    "No", "Descripción", "Marca", "Categoria", "P. Tienda", "% Desc Cmpr",
    "Cant", "C. Unit", "Pzs", "Preview", "P. Venta", "P. Oferta", "Calc",
]
_LINKS = [
    "https://www.amazon.com.mx/dp/B0{:06d}/ref=sr_1_1?q=1",
    "https://es.aliexpress.com/item/{:d}.html?spm=a2g0o",
    "https://articulo.mercadolibre.com.mx/MLM-{:d}-juguete",
    "https://www.temu.com/goods-{:d}.html",
    "https://www.shein.com/p-{:d}.html",
    "https://www.walmart.com.mx/ip/{:d}",
    "ML",
]
_NULL_MARKERS = [None, "None", "none", "NONE", "nan", ""]
_WORDS = (
    "peluche oso conejo muneca carro tren bloques rompecabezas pelota "
    "dinosaurio robot cocina granja castillo pirata unicornio dragon "
    "magnetico musical didactico gigante suave luminoso armable clasico"
).split()


def _dirty(rng, value: float, p_null: float = 0.15, p_comma: float = 0.2):
    """A numeric cell under the dirty-value quota: a null marker, a
    comma-decimal string, or the plain number."""
    u = rng.random()
    if u < p_null:
        return _NULL_MARKERS[int(rng.integers(0, len(_NULL_MARKERS)))]
    if u < p_null + p_comma:
        return f"{value:.2f}".replace(".", ",")
    return value


def workbooks(out_dir: str, seed: int, n_files: int, total_rows: int) -> list[dict]:
    """Write ``n_files`` workbooks holding ``total_rows`` Compras rows in
    all, split across files with a wide seeded spread (each file gets
    0.15x to 1.85x the mean), and return, per file in ingest order,
    ``{"path", "rows", "staged", "products", "price_rows", "facts"}``:
    Compras rows, rows the batch must stage, and the cumulative
    product / price / fact row counts the store must hold after it.

    The expected counts come from replaying the pipeline's documented
    skip rules on the generated cells: lag-1 link fill (a blank
    ``Liga`` inherits only the previous row's link), ``CANCELED``
    deliveries, empty product names, and the J5 history dedup on
    (name, quantity, unit price, purchase date). Products repeat
    across files and some rows are re-sent verbatim, so the dedup
    drops rows."""
    from pythondataingestionprocess_spark.sources.xlsx_lite import write_workbook

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    catalog = [
        " ".join(_WORDS[int(i)] for i in rng.integers(0, len(_WORDS), 10))
        + f" modelo {k:05d}"
        for k in range(max(40, total_rows // 3))
    ]
    weights = rng.uniform(0.15, 1.85, n_files)
    sizes = np.floor(weights / weights.sum() * total_rows).astype(int)
    sizes[-1] += total_rows - sizes.sum()
    seen_keys: set[tuple] = set()
    products: set[str] = set()
    priced: set[str] = set()
    history: list[list] = []  # staged rows earlier files may re-send
    facts = 0
    out = []
    for f in range(n_files):
        n_rows = int(sizes[f])
        compras, ligas = [COMPRAS_HEADER], []
        staged_names: list[str] = []
        staged = 0
        for r in range(n_rows):
            if history and rng.random() < 0.12:
                row = list(history[int(rng.integers(0, len(history)))])  # verbatim re-send
            else:
                name = catalog[int(rng.integers(0, len(catalog)))]
                cant = int(rng.integers(1, 11))
                precio = round(float(rng.uniform(50, 500)), 2)
                unit = round(precio * float(rng.uniform(0.5, 0.95)), 2)
                envio = [None, 0.0, round(float(rng.uniform(0, 80)), 2)][int(rng.integers(0, 3))]
                serial = int(45000 + rng.integers(0, 700))
                entrega = [None, str(serial + int(rng.integers(3, 30))), "CANCELED"][
                    int(rng.choice(3, p=[0.45, 0.45, 0.10]))
                ]
                link = _LINKS[int(rng.integers(0, len(_LINKS)))]
                liga = link.format(int(rng.integers(0, 10**6))) if "{" in link else link
                final = round(unit + (envio or 0.0) / cant, 2)
                row = [
                    name, cant, _dirty(rng, precio), _dirty(rng, round(1 - unit / precio, 4)),
                    _dirty(rng, round(unit / 18.5, 2), p_null=0.5), unit if rng.random() < 0.8
                    else f"{unit:.2f}".replace(".", ","), round(cant * unit, 2), 0.0,
                    _dirty(rng, envio) if envio is not None else None, serial, entrega,
                    None, _dirty(rng, round(float(rng.uniform(17, 21)), 4)), None,
                    _dirty(rng, 0.0, p_null=0.5), 1, _dirty(rng, final),
                    liga, None, round(cant * final, 2), None,
                ]
                if rng.random() < 0.04:  # empty product name: the row is skipped
                    row[0] = _NULL_MARKERS[int(rng.integers(0, len(_NULL_MARKERS)))]
            if r > 0 and rng.random() < 0.2:
                row[17] = None  # continuation row: inherits the previous link
            compras.append(row)
            ligas.append(row[17])
            filled = row[17] if row[17] is not None else (ligas[r - 1] if r > 0 else None)
            name = row[0]
            unit_val = float(str(row[5]).replace(",", "."))
            if (
                filled is None
                or (row[10] is not None and "CANCELED" in row[10])
                or name in _NULL_MARKERS
            ):
                continue
            key = (name, row[1], unit_val, row[9])
            if key in seen_keys:
                continue
            seen_keys.add(key)
            staged += 1
            staged_names.append(name)
            history.append(row)
        # price list: most of this file's products, a few misses, a few
        # duplicate names (first match wins), some NULL Marca/Categoria
        names = list(dict.fromkeys(str(r[0]) for r in compras[1:]))
        listed = [n for n in names if rng.random() < 0.85]
        listed += [catalog[int(rng.integers(0, len(catalog)))] for _ in range(2)]
        listed += listed[:2]
        precios, links = [PRECIOS_HEADER], {}
        for i, name in enumerate(listed):
            unit = round(float(rng.uniform(40, 400)), 2)
            venta = None if rng.random() < 0.15 else round(unit * 1.6, 2)
            precios.append([
                i + 1, name, None if rng.random() < 0.1 else f"Marca{int(rng.integers(0, 30))}",
                None if rng.random() < 0.1 else "Peluche", _dirty(rng, round(unit * 1.8, 2)),
                0.1, 1, unit, 1, "Preview", venta,
                None if venta is None else round(venta * 0.9, 2), round(unit * 1.5 + 25, 2),
            ])
            links[(i + 1, 9)] = f"https://img.example.com/p/{seed}/{f}/{i}.jpg"
        path = os.path.join(out_dir, f"compras_{f:03d}.xlsx")
        write_workbook(path, [("Compras", compras), ("Precios", precios)],
                       hyperlinks={"Precios": links})
        products.update(staged_names)
        priced.update(set(staged_names) & set(listed))
        facts += staged
        out.append({
            "path": path, "rows": n_rows, "staged": staged,
            "products": len(products), "price_rows": len(priced), "facts": facts,
        })
    return out


# ---- streaming documents -----------------------------------------------

def stream_docs(out_dir: str, seed: int, n_files: int, docs_per_file: int) -> dict:
    """Write ``n_files`` JSON-lines files of ``{"doc_id", "text"}`` with
    planted near-duplicates: about 8% of documents copy an earlier
    document (same or earlier file) with one word replaced, and 1% are
    verbatim copies. File modification times increase with the file
    index so a one-file-per-trigger stream reads them in order.

    Returns ``{"files": [path], "planted": [(earlier id, copy id)]}``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    vocab = [f"w{i:04d}" for i in range(4000)]
    texts: dict[int, str] = {}
    planted: list[tuple[int, int]] = []
    files = []
    next_id = 0
    t0 = 1_700_000_000
    for f in range(n_files):
        lines = []
        for _ in range(docs_per_file):
            doc_id = next_id
            next_id += 1
            u = rng.random()
            if texts and u < 0.09:
                src = int(rng.integers(0, doc_id))
                words = texts[src].split(" ")
                if u >= 0.01:  # one-word substitution
                    words[int(rng.integers(0, len(words)))] = vocab[int(rng.integers(0, len(vocab)))]
                planted.append((src, doc_id))
            else:
                words = [vocab[int(i)] for i in rng.integers(0, len(vocab), int(rng.integers(40, 160)))]
            texts[doc_id] = " ".join(words)
            lines.append(json.dumps({"doc_id": doc_id, "text": texts[doc_id]}))
        path = os.path.join(out_dir, f"docs_{f:04d}.json")
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        os.utime(path, (t0 + f, t0 + f))
        files.append(path)
    return {"files": files, "planted": planted}


def shingles(text: str, n: int = 3) -> set[str]:
    """Distinct word n-gram shingles, the engine's whitespace
    tokenization (``split(trim(text), '\\s+')``)."""
    w = text.strip().split()
    return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    union = len(sa | sb)
    return len(sa & sb) / union if union else 0.0
