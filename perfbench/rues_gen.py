"""Seeded RUES-shaped input generator with its own expected answers.

Writes the raw registry CSV the way RUES publishes it (one file, upper-case
headers with spaces plus one camelCase header) and the two catalogs the
silver rules join against: the 9 identification classes and ~500 CIIU
activity codes, some with leading zeros. Every data pathology of the
package's medallion fixture is reproduced at a fixed share of the rows:

- mixed ``yyyyMMdd`` and ts9 (``yyyy/MM/dd HH:mm:ss.SSSSSSSSS``) dates, and
  garbage dates;
- older duplicates of a (matricula, nit) key;
- unknown identification class and unknown CIIU code;
- NULL mandatory fields (matricula, codigo_camara, clase_identificacion);
- a future ``fecha_matricula`` (negative company age);
- leading-zero CIIU codes;
- the golden record matricula 21590 and its older duplicate.

The generator also keeps, in plain Python, the latest version of every key,
so it can state what the pipeline must answer (silver rows, validation
counts, orphan keys, analytics q1-q4) without running Spark. Same seed, same
calls: same bytes.
"""

from __future__ import annotations

import csv
import datetime as dt
import random
from collections import defaultdict
from functools import lru_cache

RAW_HEADERS = [
    "MATRICULA", "NIT", "NUMERO IDENTIFICACION", "DIGITO VERIFICACION",
    "CLASE IDENTIFICACION", "RAZON SOCIAL", "PRIMER NOMBRE", "SEGUNDO NOMBRE",
    "PRIMER APELLIDO", "SEGUNDO APELLIDO", "SIGLA", "TIPO SOCIEDAD",
    "CODIGO TIPO SOCIEDAD", "ORGANIZACION JURIDICA", "CODIGO ORGANIZACION JURIDICA",
    "CATEGORIA MATRICULA", "CODIGO CATEGORIA MATRICULA", "COD CIIU ACT ECON PRI",
    "COD CIIU ACT ECON SEC", "CAMARA COMERCIO", "CODIGO CAMARA",
    "ESTADO MATRICULA", "CODIGO ESTADO MATRICULA", "FECHA MATRICULA",
    "FECHA RENOVACION", "FECHA VIGENCIA", "FECHA CANCELACION",
    "fechaActualizacion", "ULTIMO ANO RENOVADO",
]
COLS = [
    "matricula", "nit", "numero_identificacion", "digito_verificacion",
    "clase_identificacion", "razon_social", "primer_nombre", "segundo_nombre",
    "primer_apellido", "segundo_apellido", "sigla", "tipo_sociedad",
    "codigo_tipo_sociedad", "organizacion_juridica", "codigo_organizacion_juridica",
    "categoria_matricula", "codigo_categoria_matricula", "cod_ciiu_act_econ_pri",
    "cod_ciiu_act_econ_sec", "camara_comercio", "codigo_camara",
    "estado_matricula", "codigo_estado_matricula", "fecha_matricula",
    "fecha_renovacion", "fecha_vigencia", "fecha_cancelacion",
    "fecha_actualizacion", "ultimo_ano_renovado",
]
DATE_COLS = (
    "fecha_matricula", "fecha_renovacion", "fecha_actualizacion",
    "fecha_vigencia", "fecha_cancelacion",
)

ID_CLASSES = [
    ("NIT", "11"),
    ("CEDULA DE CIUDADANIA", "33"),
    ("CEDULA DE EXTRANJERIA", "44"),
    ("PASAPORTE", "55"),
    ("TARJETA DE IDENTIDAD", "66"),
    ("PERMISO POR PROTECCION TEMPORAL", "77"),
    ("PERMISO ESPECIAL DE PERMANENCIA", "88"),
    ("REGISTRO CIVIL DE NACIMIENTO", "99"),
    ("DOCUMENTO EXTRANJERO", "101"),
]
SOCIETY_TYPES = [
    ("SOCIEDAD POR ACCIONES SIMPLIFICADA", "04"),
    ("SOCIEDAD LIMITADA", "03"),
    ("SOCIEDAD ANONIMA", "02"),
    ("PERSONA NATURAL", "01"),
    ("EMPRESA UNIPERSONAL", "05"),
    ("SOCIEDAD EN COMANDITA SIMPLE", "06"),
]
STATES = [  # raw spellings; RN-003 upper/trims them
    ("ACTIVA", "01", 0.45), ("Activa", "01", 0.10), (" activa ", "01", 0.05),
    ("RENOVADA", "02", 0.15), ("CANCELADA", "03", 0.15), ("cancelada", "03", 0.05),
    ("SUSPENDIDA", "04", 0.05),
]
CHAMBERS = [(f"CAMARA {i:02d}", f"{i:02d}") for i in range(1, 58)]
GOLDEN = ("21590", "900118485")
REFERENCE_YEAR = 2025
TODAY = "2025-06-30"

# shares of generated keys carrying each pathology
P_OLDER_DUP = 0.15
P_UNKNOWN_CLASS = 0.005
P_UNKNOWN_CIIU = 0.005
P_NULL_MANDATORY = 0.003
P_FUTURE_MATRICULA = 0.003
P_GARBAGE_DATE = 0.004
P_TS9_DATE = 0.02
UNKNOWN_CIIU = ("9999", "0000", "8888")


@lru_cache(maxsize=None)
def parse_date(s: str | None) -> dt.date | None:
    """Python twin of functions.dates.multi_format_date on one raw value."""
    if s is None:
        return None
    s = s.strip()
    if len(s) == 8 and s.isdigit():
        try:
            return dt.datetime.strptime(s, "%Y%m%d").date()
        except ValueError:
            return None
    if "/" in s:
        head, _, frac = s.partition(".")
        if len(frac) != 9 or not frac.isdigit():
            return None
        try:
            return dt.datetime.strptime(head, "%Y/%m/%d %H:%M:%S").date()
        except ValueError:
            return None
    return None


class RuesGenerator:
    """Deterministic writer of RUES raw files; remembers the latest row of
    every (matricula, nit) key so expected answers need no Spark."""

    def __init__(self, seed: int, n_keys: int) -> None:
        self.rng = random.Random(seed)
        self.n_keys = n_keys
        self.ciiu = self._ciiu_catalog()
        self.latest: dict[tuple, list] = {}
        self.next_key = 100_000
        self.clock = dt.date(2025, 6, 1)  # update batches land after the base

    # -- catalogs ---------------------------------------------------------

    def _ciiu_catalog(self) -> list[tuple[str, str]]:
        codes = {"0111", "0112", "4774"}
        while len(codes) < 500:
            codes.add(f"{self.rng.randrange(100, 9990):04d}")
        codes -= set(UNKNOWN_CIIU)
        return [(c, f"Actividad economica {c}") for c in sorted(codes)]

    def write_catalogs(self, out_dir: str) -> dict[str, str]:
        ident = f"{out_dir}/catalogo_clases_identificaciones.csv"
        with open(ident, "w", newline="", encoding="utf-8") as fh:
            w = csv.writer(fh)
            w.writerow(["clase_identificacion", "codigo"])
            w.writerows(ID_CLASSES)
        ciiu = f"{out_dir}/catalogo_codigos_ciuu.csv"
        with open(ciiu, "w", newline="", encoding="utf-8") as fh:
            w = csv.writer(fh, quoting=csv.QUOTE_ALL)
            w.writerow(["codigo", "actividad"])
            w.writerows(self.ciiu)
        return {"cat_identificaciones": ident, "cat_ciiu": ciiu}

    # -- rows -------------------------------------------------------------

    def _date(self, lo_year: int, hi_year: int) -> dt.date:
        start = dt.date(lo_year, 1, 1).toordinal()
        end = dt.date(hi_year, 12, 31).toordinal()
        return dt.date.fromordinal(self.rng.randint(start, end))

    def _fmt(self, d: dt.date) -> str:
        """A row date in the registry's mixed formats (mostly compact)."""
        r = self.rng.random()
        if r < P_GARBAGE_DATE:
            return self.rng.choice(["not-a-date", "2024-02-30", "1997/05/28 00:00:00"])
        if r < P_GARBAGE_DATE + P_TS9_DATE:
            return d.strftime("%Y/%m/%d") + " 00:00:00.000000000"
        return d.strftime("%Y%m%d")

    def _ts9(self, d: dt.date) -> str:
        r = self.rng
        return (
            f"{d:%Y/%m/%d} {r.randrange(24):02d}:{r.randrange(60):02d}:"
            f"{r.randrange(60):02d}.{r.randrange(10**6):06d}000"
        )

    def _state(self) -> tuple[str, str]:
        x = self.rng.random()
        for name, code, p in STATES:
            if x < p:
                return name, code
            x -= p
        return STATES[0][0], STATES[0][1]

    def _version(self, base: dict, updated: dt.date) -> list:
        """One raw row of a key: stable identity columns from ``base``,
        fresh mutable columns (state, dates) as of ``updated``."""
        r = self.rng
        estado, codigo_estado = self._state()
        renov = updated - dt.timedelta(days=r.randrange(0, 60))
        vig = dt.date(renov.year + 1, 3, 31)
        row = dict(base)
        row.update(
            estado_matricula=estado,
            codigo_estado_matricula=codigo_estado,
            fecha_renovacion=self._fmt(renov),
            fecha_vigencia=self._fmt(vig),
            fecha_cancelacion=self._fmt(updated) if estado.strip().upper() == "CANCELADA" else None,
            fecha_actualizacion=self._ts9(updated),
            ultimo_ano_renovado=str(renov.year),
        )
        return [row[c] for c in COLS]

    def _identity(self) -> tuple[tuple, dict]:
        """Identity columns of a brand-new key (with its pathologies)."""
        r = self.rng
        self.next_key += 1
        mat = str(self.next_key)
        null_mandatory = r.random() < P_NULL_MANDATORY
        if r.random() < P_UNKNOWN_CLASS:
            clase = "SIN IDENTIFICACION"
        else:
            clase = r.choice(["NIT"] * 8 + ["CEDULA DE CIUDADANIA"] * 8 + [c for c, _ in ID_CLASSES[2:]])
            clase = r.choice([clase, clase, clase, clase.lower() + " "])
        juridical = clase.strip().upper() == "NIT"
        numero = f"{r.randrange(10**7, 10**9)}"
        nit = f"9{r.randrange(10**8):08d}" if juridical or r.random() < 0.3 else None
        if null_mandatory:
            nit = f"8{self.next_key:08d}"  # unique, so the NULL-matricula key is its own
        soc, soc_code = SOCIETY_TYPES[3] if not juridical else r.choice(SOCIETY_TYPES[:3] + SOCIETY_TYPES[4:])
        if r.random() < P_UNKNOWN_CIIU:
            ciiu = r.choice(UNKNOWN_CIIU)
        else:
            ciiu = r.choice(self.ciiu)[0]
        camara, cod_camara = r.choice(CHAMBERS)
        name = f"EMPRESA {mat} {soc.split()[-1]}"
        if r.random() < 0.02:
            name = f'COMERCIAL "{mat}", Y CIA'  # quoted field with separator
        matricula_d = (
            dt.date(2099, 1, 1) if r.random() < P_FUTURE_MATRICULA else self._date(1950, 2024)
        )
        base = dict.fromkeys(COLS)
        base.update(
            matricula=None if null_mandatory else mat,
            nit=nit,
            numero_identificacion=numero,
            digito_verificacion=str(r.randrange(10)),
            clase_identificacion=None if null_mandatory else clase,
            razon_social=name,
            primer_nombre=None if juridical else r.choice(["MARIA", "JUAN", "ANA", "LUIS"]),
            primer_apellido=None if juridical else r.choice(["GOMEZ", "PEREZ", "DIAZ", "ROJAS"]),
            tipo_sociedad=soc,
            codigo_tipo_sociedad=soc_code,
            organizacion_juridica="PERSONA NATURAL" if not juridical else "SOCIEDAD COMERCIAL",
            codigo_organizacion_juridica="02" if not juridical else "01",
            categoria_matricula="PERSONA NATURAL" if not juridical else "SOCIEDAD O PERSONA JURIDICA PRINCIPAL O ESAL",
            codigo_categoria_matricula="02" if not juridical else "01",
            cod_ciiu_act_econ_pri=ciiu,
            cod_ciiu_act_econ_sec=r.choice(self.ciiu)[0] if r.random() < 0.2 else None,
            camara_comercio=camara,
            codigo_camara=None if null_mandatory else cod_camara,
            fecha_matricula=self._fmt(matricula_d),
        )
        return (base["matricula"], base["nit"]), base

    def _golden_rows(self) -> list[list]:
        base = dict.fromkeys(COLS)
        base.update(
            matricula=GOLDEN[0], nit=GOLDEN[1], numero_identificacion=GOLDEN[1],
            digito_verificacion="7", clase_identificacion="NIT",
            razon_social="OPTICA CRISTAL MAGANGUE LTDA.",
            tipo_sociedad="SOCIEDAD LIMITADA", codigo_tipo_sociedad="03",
            organizacion_juridica="SOCIEDAD COMERCIAL", codigo_organizacion_juridica="01",
            categoria_matricula="SOCIEDAD O PERSONA JURIDICA PRINCIPAL O ESAL",
            codigo_categoria_matricula="01", cod_ciiu_act_econ_pri="4774",
            camara_comercio="MAGANGUE", codigo_camara="19",
            fecha_matricula="20061108",
        )
        latest = dict(base)
        latest.update(
            estado_matricula=" Activa ", codigo_estado_matricula="01",
            fecha_renovacion="20250506", fecha_vigencia="20260331",
            fecha_actualizacion="2025/05/13 14:51:55.923000000",
            ultimo_ano_renovado="2025",
        )
        older = dict(base)
        older.update(
            clase_identificacion="nit ", estado_matricula="RENOVADA",
            codigo_estado_matricula="02", fecha_renovacion="20240502",
            fecha_vigencia="20250331",
            fecha_actualizacion="2024/05/02 10:00:00.000000000",
            ultimo_ano_renovado="2024",
        )
        return [[latest[c] for c in COLS], [older[c] for c in COLS]]

    def write_base(self, path: str) -> int:
        """The initial registry extract: ``n_keys`` keys (golden included),
        some with older duplicates, shuffled. Returns rows written."""
        rows = self._golden_rows()
        self.latest[GOLDEN] = rows[0]
        for _ in range(self.n_keys - 1):
            key, base = self._identity()
            updated = self._date(2015, 2024) if self.rng.random() < 0.5 else self._date(2025, 2025)
            updated = min(updated, dt.date(2025, 5, 31))
            row = self._version(base, updated)
            rows.append(row)
            self.latest[key] = row
            if self.rng.random() < P_OLDER_DUP:
                older = updated - dt.timedelta(days=self.rng.randrange(1, 700))
                rows.append(self._version(base, older))
        self.rng.shuffle(rows)
        _write_raw(path, rows)
        return len(rows)

    def write_update_batch(self, path: str, n_rows: int, new_share: float = 0.1) -> int:
        """A small landed batch: mostly newer versions of existing keys
        (never the golden record), some brand-new keys, all stamped one day
        after the previous batch so keep-latest has no ties."""
        self.clock += dt.timedelta(days=1)
        keys = [k for k in self.latest if k != GOLDEN]
        rows = []
        touched = set()
        for _ in range(n_rows):
            if self.rng.random() < new_share:
                key, base = self._identity()
            else:
                key = self.rng.choice(keys)
                if key in touched:
                    continue
                base = dict(zip(COLS, self.latest[key]))
            touched.add(key)
            row = self._version(base, self.clock)
            rows.append(row)
            self.latest[key] = row
        _write_raw(path, rows)
        return len(rows)

    # -- expected answers -------------------------------------------------

    def expected(self) -> dict:
        """What silver, gold and analytics q1-q4 must contain now."""
        ident = {c for c, _ in ID_CLASSES}
        ciiu = dict(self.ciiu)
        counts = {f"{c}_null": 0 for c in DATE_COLS}
        counts.update(
            codigo_identificacion_null=0, actividad_economica_null=0,
            antiguedad_negativa=0, llave_unica_invalida=0, matricula_null=0,
            codigo_camara_null=0, clase_identificacion_null=0,
        )
        q1: dict = defaultdict(set)
        by_act: dict = defaultdict(lambda: [set(), 0, 0])  # matriculas, age sum, age n
        by_cam: dict = defaultdict(lambda: [set(), set()])  # active, all
        q4 = set()
        for row in self.latest.values():
            r = dict(zip(COLS, row))
            dates = {c: parse_date(r[c]) for c in DATE_COLS}
            for c in DATE_COLS:
                counts[f"{c}_null"] += dates[c] is None
            clase = r["clase_identificacion"].strip().upper() if r["clase_identificacion"] else None
            act = ciiu.get(r["cod_ciiu_act_econ_pri"].strip()) if r["cod_ciiu_act_econ_pri"] else None
            age = REFERENCE_YEAR - dates["fecha_matricula"].year if dates["fecha_matricula"] else None
            estado = r["estado_matricula"].strip().upper()
            counts["codigo_identificacion_null"] += clase not in ident
            counts["actividad_economica_null"] += act is None
            counts["antiguedad_negativa"] += age is not None and age < 0
            counts["llave_unica_invalida"] += any(
                r[c] is None for c in ("codigo_camara", "matricula", "razon_social")
            )
            counts["matricula_null"] += r["matricula"] is None
            counts["codigo_camara_null"] += r["codigo_camara"] is None
            counts["clase_identificacion_null"] += r["clase_identificacion"] is None
            mat = r["matricula"]
            if mat is None:
                continue
            by_cam[r["camara_comercio"]][1].add(mat)
            if estado == "ACTIVA":
                q1[r["tipo_sociedad"]].add(mat)
                by_cam[r["camara_comercio"]][0].add(mat)
                acc = by_act[act]
                acc[0].add(mat)
                if age is not None:
                    acc[1] += age
                    acc[2] += 1
            if (
                estado in ("ACTIVA", "RENOVADA", "CANCELADA")
                and age is not None
                and act is not None
                and r["tipo_sociedad"] is not None
                and r["ultimo_ano_renovado"] is not None
            ):
                q4.add(mat)
        q2 = [
            (a, s / n, len(m))
            for a, (m, s, n) in by_act.items()
            if len(m) > 5 and n > 0
        ]
        q2.sort(key=lambda t: (-t[1], t[0] is not None, t[0] or ""))
        q3 = [
            (c, float(len(act)) * 100.0 / len(all_)) for c, (act, all_) in by_cam.items()
        ]
        q3.sort(key=lambda t: (-t[1], t[0]))
        n = len(self.latest)
        return {
            "silver_rows": n,
            "dim_rows": n,
            "fact_rows": n,
            "orphans": [None] if counts["matricula_null"] else [],
            "validation": counts,
            "q1": {k: len(v) for k, v in q1.items()},
            "q2": q2[:5],
            "q3": q3[:5],
            "q4_rows": len(q4),
            "golden": {
                "fecha_matricula": dt.date(2006, 11, 8),
                "fecha_renovacion": dt.date(2025, 5, 6),
                "fecha_actualizacion": dt.date(2025, 5, 13),
                "estado_matricula": "ACTIVA",
                "codigo_identificacion": 11,
                "tipo_persona": 2,
                "antiguedad_empresa": 19,
                "id_unico": "19_21590_OPTICA CRISTAL MAGANGUE LTDA.",
            },
        }


def _write_raw(path: str, rows: list[list]) -> None:
    with open(path, "w", newline="", encoding="utf-8") as fh:
        w = csv.writer(fh, quoting=csv.QUOTE_MINIMAL)
        w.writerow(RAW_HEADERS)
        w.writerows(rows)
