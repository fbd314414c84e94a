"""Seeded input generator and the expected answers derived from it.

Everything here is plain Python. The expected answers follow the
reference program's rules (Actualizar_Precios_de_Nexo.py, python_json.py)
applied to the logical values the generator wrote, so they do not come
from the program under test.

Inputs carry the quirks of the reference's real files: banner rows above
the header, duplicate and alias headers, an unnamed header cell,
mixed-locale price text, unit numbers stored as floats, tower-prefix
projects (Matera, Capadocia, Napoles), case and whitespace variants of
project names, duplicate Sperant keys with dated, undated and junk dates,
and projects found on only one side.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import re
import statistics
from collections import Counter
from dataclasses import dataclass
from decimal import ROUND_HALF_EVEN, Decimal

from sheets import write_xls, write_xlsx

TOWER_PROJECTS = ("Matera", "Capadocia", "Napoles")
OTHER_PROJECTS = ("Fenix", "Alameda", "Bosque", "Cielo", "Duna", "Estela",
                  "Girasol", "Huerta", "Jade", "Koru", "Lirio", "Mirador")
SPERANT_ONLY = ("Solitario", "Miraflores Park")
NEXO_STATES = ("Disponible (Visible)", "No Disponible (Vendido)",
               "Disponible (Oculto)", "Separado (Visible)")
SPERANT_STATES = ("disponible", "vendido", "separado", "no disponible")
SPERANT_HEADER = ["tipologia_ubicacion", "nombre_tipologia", "PISO", "nombre",
                  "precio_lista", "estado_comercial", "nombre_proyecto",
                  "Precio_Final", "P_m2 dolares con dscto y area libre",
                  "fecha_actualizacion"]
SPERANT_SHEET = "Unidades Consolidado"
N_COLUMNS = 86          # width of the reference's Matera.xlsx


# --- the reference's rules, in plain Python ---------------------------------

def to_number(s: str | None) -> float | None:
    """``_to_number``: the last of ``,``/``.`` is the decimal point."""
    if s is None:
        return None
    t = s.strip(" ").replace(" ", "")
    if t == "":
        return None
    if "," in t and "." in t:
        if t.rfind(",") > t.rfind("."):
            t = t.replace(".", "").replace(",", ".")
        else:
            t = t.replace(",", "")
    elif "," in t:
        t = t.replace(".", "").replace(",", ".")
    else:
        parts = t.split(".")
        if len(parts) > 2:
            t = "".join(parts[:-1]) + "." + parts[-1]
    try:
        return float(t)
    except ValueError:
        return None


def cell_text(v: object) -> str | None:
    """How a read cell becomes text at ingest: ``str``, empty is NULL."""
    if v is None or v == "":
        return None
    return str(v)


def canon_unit(s: str | None) -> str | None:
    """``"101.0" -> "101"``, else trimmed."""
    if s is None:
        return None
    if re.fullmatch(r"\d+(\.\d+)?", s):
        return str(int(float(s)))
    return s.strip(" ")


def tower_prefix(project: str, typology: str | None, unit: str | None) -> str | None:
    if unit is None:
        return None
    num = unit.strip(" ")
    if project.strip(" ").lower() not in {p.lower() for p in TOWER_PROJECTS}:
        return num
    if typology is None:
        return num
    letter = typology.strip(" ")[:1].upper()
    if letter in ("A", "B") and not re.fullmatch(r"[AB]\d+", num.upper()):
        return letter + num
    return num


def norm(s: str | None) -> str | None:
    return None if s is None else s.strip(" ").lower()


def parse_date(s: str | None) -> dt.date | None:
    if s is None:
        return None
    s = s.strip(" ")
    for fmt in ("%Y-%m-%d", "%d/%m/%Y"):
        try:
            return dt.datetime.strptime(s, fmt).date()
        except ValueError:
            pass
    return None


def isclose(a: float | None, b: float | None) -> bool:
    if a is None and b is None:
        return True
    if a is None or b is None:
        return False
    return abs(a - b) <= 1e-8 + 1e-5 * abs(b)


def bround(x: float, nd: int) -> float:
    """Half-even rounding of the value's decimal text, as Spark's bround."""
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-nd),
                                           rounding=ROUND_HALF_EVEN))


# --- generated data -----------------------------------------------------------

@dataclass
class Unit:
    project: str
    unit: str | None          # after canonicalization and tower prefix
    price: float | None       # parsed list price before the update
    state: str | None
    piso: str | None


@dataclass
class SperantRow:
    project: str | None
    nombre: object            # text, or an integer cell
    price: float | None
    state: str | None
    fecha: str | None


@dataclass
class Inputs:
    nexo_files: dict[str, str]            # project -> workbook path
    sperant_path: str
    units: list[Unit]
    sperant: list[SperantRow]
    input_bytes: int
    fmt: str
    lookup_units: list[str]


def _money(cents: int, style: str) -> object:
    whole, frac = divmod(cents, 100)
    us = f"{whole:,}.{frac:02d}"
    if style == "eu":
        return us.replace(",", "_").replace(".", ",").replace("_", ".")
    if style == "us":
        return us
    if style == "spaced":
        return " " + f"{whole:,}".replace(",", " ") + f",{frac:02d} "
    if style == "plain":
        return f"{whole}.{frac:02d}"
    if style == "dots":       # "416.881": read as 416.881 by the reference
        return f"{whole:,}".replace(",", ".")
    return float(f"{whole}.{frac:02d}")        # a numeric cell


_PRICE_STYLES = ("eu", "eu", "us", "spaced", "plain", "num", "num", "dots")


def _nexo_sheet(rnd: random.Random, project: str, index: int, n_units: int,
                tower: bool) -> tuple[list[list[object]], list[Unit]]:
    alias = index % 3 == 1
    h_num = "codigo" if alias else "Número de inmueble"
    h_price = "precio lista" if alias else "Precio de lista"
    h_state = "estado" if alias else "Estado de inmueble"
    has_typology = tower or index % 3 != 2
    header: list[object] = []
    if index % 2 == 0:
        header.append("Proyecto")           # overwritten by the file's key
    header += [h_num]
    if has_typology:
        header.append("Tipología")
    header += ["Piso", "Área Techada", "Área Total", h_price, h_state,
               "Cantidad de Dormitorios", "Área Total", "Piso", None]
    header += [f"Campo {i:02d}" for i in range(N_COLUMNS - len(header))]
    col = {}
    for i, h in enumerate(header):
        col.setdefault(h, []).append(i)

    banner = [["LISTA DE PRECIOS"], [], [f"Proyecto {project}"],
              ["Generado", f"{2024 + index % 2}-0{1 + index % 9}-15"], []]
    rows: list[list[object]] = banner[:2 + index % 4] + [header]
    units: list[Unit] = []
    seen: set[tuple[str, int]] = set()
    floors = max(2, -(-n_units // 12))
    while len(units) < n_units:
        floor = rnd.randint(1, floors)
        k = rnd.randint(1, 12)
        letter = rnd.choice("AB") if tower else ""
        if (letter, floor * 100 + k) in seen:
            continue
        seen.add((letter, floor * 100 + k))
        num = floor * 100 + k
        r = rnd.random()
        if tower and r < 0.2:
            raw_unit: object = f"{letter}{num}"           # already prefixed
        elif r < 0.75:
            raw_unit = float(num)                         # float unit number
        elif r < 0.9:
            raw_unit = str(num)
        else:
            raw_unit = f" {num} "
        typology = None
        if has_typology:
            typology = (f"{letter}-{rnd.randint(1, 9)}0{rnd.randint(1, 4)}"
                        if tower else f"Tipo {rnd.randint(1, 6)}")
        cents = rnd.randint(150_000, 1_200_000) * 100 + rnd.choice((0, 0, 50, rnd.randint(1, 99)))
        r = rnd.random()
        price_cell = (_money(cents, rnd.choice(_PRICE_STYLES)) if r < 0.94
                      else "" if r < 0.97 else "consultar")
        state = rnd.choice(NEXO_STATES) if rnd.random() < 0.95 else None
        row: list[object] = [None] * len(header)
        if "Proyecto" in col:
            row[col["Proyecto"][0]] = "proyecto antiguo"
        row[col[h_num][0]] = raw_unit
        if has_typology:
            row[col["Tipología"][0]] = typology
        p1, p2 = col["Piso"]
        if rnd.random() < 0.7:
            row[p1] = floor
        else:
            row[p2] = floor
        a1, a2 = col["Área Total"]
        area = round(rnd.uniform(40, 140), 2)
        row[col["Área Techada"][0]] = area
        row[a2 if rnd.random() < 0.5 else a1] = round(area * 1.1, 2)
        row[col[h_price][0]] = price_cell
        row[col[h_state][0]] = state
        row[col["Cantidad de Dormitorios"][0]] = rnd.randint(1, 4)
        row[col[None][0]] = rnd.choice((None, "obs"))
        for i in range(col[None][0] + 1, len(header)):
            r = rnd.random()
            row[i] = (None if r < 0.3 else rnd.randint(0, 999) if r < 0.6
                      else round(rnd.uniform(0, 1000), 3) if r < 0.8
                      else f"valor {rnd.randint(0, 50)}")
        rows.append(row)
        unit = tower_prefix(project, typology, canon_unit(cell_text(raw_unit)))
        piso = next(cell_text(row[i]) for i in (p1, p2) if row[i] is not None)
        units.append(Unit(project, unit, to_number(cell_text(price_cell)),
                          state, piso))
    return rows, units


def _project_variant(rnd: random.Random, project: str) -> str:
    return rnd.choice((project, project, project, project.lower(),
                       f" {project.upper()} ", f"{project} "))


def _unit_variant(rnd: random.Random, unit: str) -> object:
    r = rnd.random()
    if r < 0.1:
        return unit.lower()
    if r < 0.2:
        return f"{unit} "
    if r < 0.35 and unit.isdigit():
        return int(unit)
    return unit


def _fecha(rnd: random.Random) -> str | None:
    r = rnd.random()
    if r < 0.12:
        return None
    if r < 0.2:
        return ""
    if r < 0.25:
        return "sin fecha"
    d = dt.date(2023, 1, 1) + dt.timedelta(days=rnd.randint(0, 700))
    return d.isoformat() if r < 0.4 else d.strftime("%d/%m/%Y")


def _sperant(rnd: random.Random, units: list[Unit], nexo_only: set[str],
             crm_only: list[tuple[str, int]]) -> list[SperantRow]:
    rows: list[SperantRow] = []
    named: set[str] = set()
    for u in units:
        if u.project in nexo_only or u.unit is None or rnd.random() < 0.12:
            continue
        n_dup = 1 if rnd.random() < 0.85 else rnd.randint(2, 3)
        for _ in range(n_dup):
            r = rnd.random()
            if r < 0.55 or u.price is None:
                price = rnd.randint(150_000, 1_200_000) + rnd.choice((0.0, 0.5, 0.25))
            elif r < 0.8:
                price = u.price
            else:
                price = None
            state = rnd.choice(SPERANT_STATES) if rnd.random() < 0.85 else None
            proj = _project_variant(rnd, u.project)
            named.add(proj.strip(" "))
            rows.append(SperantRow(proj, _unit_variant(rnd, u.unit), price,
                                   state, _fecha(rnd)))
    # Every Nexo project with Sperant rows is also spelled exactly once.
    for p in sorted({u.project for u in units} - nexo_only - named):
        rows.append(SperantRow(p, "9999", 1.0, "disponible", None))
    for p, n in [(p, rnd.randint(5, 20)) for p in SPERANT_ONLY] + crm_only:
        for k in range(n):
            floor, unit = divmod(k, 10)
            rows.append(SperantRow(_project_variant(rnd, p), str(100 * floor + 101 + unit),
                                   float(rnd.randint(150_000, 1_200_000)),
                                   rnd.choice(SPERANT_STATES), _fecha(rnd)))
    rnd.shuffle(rows)
    return rows


def _sperant_matrix(rnd: random.Random, rows: list[SperantRow]) -> list[list[object]]:
    out: list[list[object]] = [list(SPERANT_HEADER)]
    for r in rows:
        out.append([str(rnd.randint(1, 9)), f"Tipo {rnd.randint(100, 400)}",
                    str(rnd.randint(1, 20)), r.nombre, r.price, r.state,
                    r.project, None if r.price is None else round(r.price * 0.97, 2),
                    f"${rnd.randint(1500, 4000)}", r.fecha])
    return out


def generate(root: str, seed: int, projects: list[str], units_range: tuple[int, int],
             fmt: str, crm_projects: tuple[str, ...] = ()) -> Inputs:
    """Write one Nexo workbook per project (``fmt`` ``xls`` or ``xlsx``)
    and the Sperant export under ``root``. The last project has no
    Sperant rows. The export also lists ``crm_projects``, whose Nexo
    workbooks are not part of this run, and two projects Nexo never had."""
    rnd = random.Random(seed)
    os.makedirs(root, exist_ok=True)
    files: dict[str, str] = {}
    units: list[Unit] = []
    size = 0
    # Unit counts spread evenly over the range and dealt out by the seed,
    # so every seed carries the same total through the program.
    lo, hi = units_range
    counts = [round(lo + (hi - lo) * i / max(1, len(projects) - 1))
              for i in range(len(projects))]
    rnd.shuffle(counts)
    for i, (project, n) in enumerate(zip(projects, counts)):
        rows, us = _nexo_sheet(rnd, project, i, n, project in TOWER_PROJECTS)
        path = os.path.join(root, f"{project}.{fmt}")
        size += (write_xls if fmt == "xls" else write_xlsx)(path, "Precios", rows)
        files[project] = path
        units += us
    crm = [(p, rnd.randint(*units_range)) for p in crm_projects]
    sperant = _sperant(rnd, units, {projects[-1]}, crm)
    sperant_path = os.path.join(root, "BD_SPERANT_ACTUAL.xlsx")
    size += write_xlsx(sperant_path, SPERANT_SHEET, _sperant_matrix(rnd, sperant))
    lookups = [u.unit for u in units if u.unit is not None]
    return Inputs(files, sperant_path, units, sperant, size, fmt,
                  rnd.sample(lookups, min(16, len(lookups))))


# --- expected answers ------------------------------------------------------------

@dataclass
class Expected:
    updated: dict[tuple[str, str | None], tuple[float | None, str | None]]
    unit_counts: Counter
    resumen: dict[str, dict[str, float]]
    changed: Counter                   # (project, unit) of changed rows
    solo_nexo: list[str]
    solo_sperant: list[str]
    kpis: dict
    records: Counter


def sperant_winners(rows: list[SperantRow]) -> dict[tuple, SperantRow]:
    """Keep-latest dedup: latest date wins, an undated row beats any dated
    one (pandas sorts NaT last), later position breaks ties."""
    best: dict[tuple, tuple] = {}
    for ordn, r in enumerate(rows):
        key = (norm(r.project), norm(None if r.nombre is None else str(r.nombre)))
        d = parse_date(r.fecha)
        rank = (d is None, d or dt.date.min, ordn)
        if key not in best or rank > best[key][0]:
            best[key] = (rank, r)
    return {k: v[1] for k, v in best.items()}


def _kpi_block(prices: list[float]) -> dict:
    if not prices:
        return {}
    return {"precio_promedio": round(statistics.fmean(prices), 2),
            "precio_median": round(statistics.median(prices), 2)}


def _counts_desc(values) -> dict[str, int]:
    c = Counter("__NA__" if v is None else v for v in values)
    return dict(sorted(c.items(), key=lambda kv: (-kv[1], kv[0])))


def expected(inp: Inputs) -> Expected:
    winners = sperant_winners(inp.sperant)
    updated = {}
    unit_counts: Counter = Counter()
    changed: Counter = Counter()
    records: Counter = Counter()
    per: dict[str, Counter] = {}
    after_rows = []
    for u in inp.units:
        w = winners.get((norm(u.project), norm(u.unit)))
        price = u.price if w is None or w.price is None else float(w.price)
        state = u.state if w is None or w.state is None else w.state
        ch_p = not isclose(u.price, price)
        ch_s = u.state != state
        c = per.setdefault(u.project, Counter())
        c["Registros"] += 1
        c["Con_Match"] += w is not None
        c["Sin_Match"] += w is None
        c["Cambios"] += ch_p or ch_s
        c["Cambios_Precio"] += ch_p
        c["Cambios_Estado"] += ch_s
        c["Sin_Cambio"] += (not (ch_p or ch_s)) and w is not None
        if ch_p or ch_s:
            changed[(u.project, u.unit)] += 1
        updated[(u.project, u.unit)] = (price, state)
        unit_counts[u.project] += 1
        records[(u.project, price, state, u.piso)] += 1
        after_rows.append((u.project, price, state))
    resumen = {}
    for p, c in per.items():
        row = {k: c[k] for k in ("Registros", "Con_Match", "Sin_Match", "Cambios",
                                 "Cambios_Precio", "Cambios_Estado", "Sin_Cambio")}
        for k in ("Con_Match", "Sin_Match", "Cambios", "Sin_Cambio"):
            row[f"pct_{k}"] = bround(c[k] / c["Registros"], 4)
        resumen[p] = row

    nexo_names = {p.strip(" ") for p in inp.nexo_files}
    sperant_names = {r.project.strip(" ") for r in inp.sperant if r.project is not None}
    prices = [p for _, p, _ in after_rows if p is not None]
    kpis = {"cards": {"unidades_totales": len(after_rows), **_kpi_block(prices)},
            "by_proyecto": {}, "by_estado": _counts_desc(s for _, _, s in after_rows)}
    for proj in sorted({p for p, _, _ in after_rows}):
        mine = [(pr, s) for p, pr, s in after_rows if p == proj]
        kpis["by_proyecto"][proj] = {
            "unidades": len(mine),
            **_kpi_block([pr for pr, _ in mine if pr is not None]),
            "por_estado": _counts_desc(s for _, s in mine)}
    return Expected(updated, unit_counts, resumen, changed,
                    sorted(nexo_names - sperant_names),
                    sorted(sperant_names - nexo_names), kpis, records)
