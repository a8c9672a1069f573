"""Seeded dirty-CSV drops for the ETL workloads, and a plain-Python oracle.

The generator writes three drops of ``personas`` CSVs (header
``nombre,edad,ciudad``, all strings), using exactly the dirt classes of
FIXTURES.md section 1:

* names padded with spaces, ALL-CAPS, mixed case, multi-word names;
* ages that ``int()`` rejects, ages under 25, ages with whitespace
  (``"26 "``);
* accented and multi-word cities with case and space noise;
* short rows (a missing trailing field reads as None);
* one file per drop whose header has no ``ciudad`` column;
* rows that repeat a natural key within a file and across files.

Drop A is all new rows, drop B is half new rows and half rows re-delivered
from A (with fresh dirt), drop C is A again, byte for byte.

The oracle shares no code with the library. It replays the reference's
row loop with CPython string methods: ``str.strip().capitalize()`` for
names, ``str.strip().title()`` for cities, ``int()`` for ages, the
first-failure reject order, and INSERT OR IGNORE counting over the files
in sorted order.
"""

from __future__ import annotations

import csv
import random
from collections import Counter
from dataclasses import dataclass, field
from pathlib import Path

EDAD_MIN = 25
HEADER = ["nombre", "edad", "ciudad"]

MISSING_COLS = "Faltan columnas requeridas"
NONE_VALUE = "Valor None en campo requerido"
BAD_INT = "Edad no convertible a int"
UNDERAGE = f"Edad < {EDAD_MIN}"

_FIRST = (
    "ana maría", "juan pablo", "guillermo", "noemi", "naomi", "pedro", "lucía",
    "josé luis", "sofía", "mateo", "valentina", "diego", "camila", "andrés",
    "martina", "tomás", "isabella", "sebastián", "renata", "emilio", "paula",
    "joaquín", "ximena", "ramón", "inés", "óscar", "maría josé", "luis",
    "fernanda", "rodrigo", "gabriela", "héctor", "daniela", "iván", "elena",
    "raúl", "carmen", "jesús", "patricia", "ángel",
)
_LAST = (
    "garcía", "martínez", "lópez", "hernández", "gonzález", "pérez", "sánchez",
    "ramírez", "torres", "flores", "rivera", "gómez", "díaz", "cruz", "morales",
    "reyes", "gutiérrez", "ortiz", "chávez", "ruiz", "de la cruz", "núñez",
    "mendoza", "aguilar", "vázquez", "castillo", "jiménez", "moreno", "romero",
    "herrera", "medina", "castro", "vargas", "guzmán", "salazar",
)
_CITIES = (
    "san luis", "san juan", "querétaro", "san luis potosí", "ciudad de méxico",
    "mérida", "león", "santa fe", "guadalajara", "monterrey", "puebla",
    "tuxtla gutiérrez", "la paz", "cancún", "morelia", "oaxaca de juárez",
    "zacatecas", "san cristóbal de las casas", "culiacán", "torreón",
    "tlaquepaque", "xalapa", "ensenada", "saltillo", "toluca de lerdo",
)
_BAD_AGES = ("error", "n/a", "26.5", "veinte", "3O", "--", "1e2")


@dataclass(frozen=True)
class DropSizes:
    """Files per drop (the last one without ``ciudad``) and data rows per
    file."""

    files: int
    rows: int


def _dirty(rng: random.Random, s: str) -> str:
    """Case and space noise that normalization must remove."""
    case = rng.random()
    if case < 0.25:
        s = s.upper()
    elif case < 0.45:
        s = s.title()
    elif case < 0.55:
        s = "".join(ch.upper() if rng.random() < 0.5 else ch for ch in s)
    pad = rng.random()
    if pad < 0.2:
        s = "  " + s + " "
    elif pad < 0.35:
        s = s + " "
    elif pad < 0.45:
        s = " " + s
    return s


def _age(rng: random.Random, edad: int) -> str:
    r = rng.random()
    if r < 0.04:
        return rng.choice(_BAD_AGES)
    if r < 0.10:
        return f"{edad} "
    if r < 0.13:
        return f" {edad}"
    return str(edad)


def _key(rng: random.Random) -> tuple[str, int, str]:
    """A raw (name, age, city) before dirt; ages 18-80 put ~11% under 25."""
    name = f"{rng.choice(_FIRST)} {rng.choice(_LAST)}"
    return name, rng.randint(18, 80), rng.choice(_CITIES)


def _row(rng: random.Random, key: tuple[str, int, str]) -> list[str]:
    name, edad, city = key
    row = [_dirty(rng, name), _age(rng, edad), _dirty(rng, city)]
    if rng.random() < 0.02:  # short row: DictReader fills the tail with None
        row = row[: rng.choice((1, 2))]
    return row


def _file_rows(
    rng: random.Random, n: int, pool: list[tuple[str, int, str]] | None
) -> list[list[str]]:
    """``n`` rows; with a ``pool``, half of them re-deliver keys from it.
    About 5% of rows repeat a key already used in the same file."""
    keys: list[tuple[str, int, str]] = []
    for i in range(n):
        if keys and rng.random() < 0.05:
            keys.append(rng.choice(keys))
        elif pool is not None and i % 2 == 0:
            keys.append(rng.choice(pool))
        else:
            keys.append(_key(rng))
    return [_row(rng, k) for k in keys]


def _write(path: Path, header: list[str], rows: list[list[str]]) -> None:
    with open(path, "w", newline="", encoding="utf-8") as fh:
        w = csv.writer(fh, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


def generate(seed: int, out_dir: Path, sizes: DropSizes) -> list[Path]:
    """Write drops ``a``, ``b`` and ``c`` under ``out_dir``; return their
    directories in load order. The last file of each drop lacks ``ciudad``.
    Every regular file after the first repeats some keys of the files
    before it (cross-file duplicates)."""
    rng = random.Random(seed)

    def drop(name: str, pool: list | None) -> tuple[Path, list]:
        d = out_dir / name
        d.mkdir(parents=True)
        used: list[tuple[str, int, str]] = []
        for i in range(sizes.files - 1):
            rows = _file_rows(rng, sizes.rows, pool)
            if used:  # cross-file duplicates within the drop
                for j in range(0, len(rows), 20):
                    rows[j] = _row(rng, rng.choice(used))
            used.extend(_raw_keys(rows))
            _write(d / f"personas_{name}{i:02d}.csv", HEADER, rows)
        short = [r[:2] for r in _file_rows(rng, sizes.rows, pool)]
        _write(d / f"personas_{name}{sizes.files - 1:02d}_sin_ciudad.csv", HEADER[:2], short)
        return d, used

    a, used_a = drop("a", None)
    b, _ = drop("b", used_a)
    c = out_dir / "c"
    c.mkdir()
    for f in sorted(a.glob("*.csv")):
        (c / f.name).write_bytes(f.read_bytes())
    return [a, b, c]


def _raw_keys(rows: list[list[str]]) -> list[tuple[str, int, str]]:
    """Undo the dirt on well-formed rows so later files can repeat them."""
    out = []
    for r in rows:
        if len(r) == 3:
            try:
                out.append((r[0].strip().lower(), int(r[1]), r[2].strip().lower()))
            except ValueError:
                pass
    return out


# ---------------------------------------------------------------------------
# Oracle
# ---------------------------------------------------------------------------


@dataclass
class FileExpect:
    """Expected audit row and reject reasons of one source file."""

    source_file: str
    valid_count: int
    rejected_count: int
    inserted_new: int
    ignored_duplicates: int
    #: multiset of (raw nombre, raw edad, motivo) over the file's rejects;
    #: a value absent from a short row reads back from the sink as ''
    rejects: Counter = field(default_factory=Counter)

    def audit(self) -> tuple:
        return (
            self.source_file, self.valid_count, self.rejected_count,
            self.inserted_new, self.ignored_duplicates,
        )


class Oracle:
    """The reference's warehouse, replayed in plain Python: one instance per
    fresh warehouse; feed it the drops in load order."""

    def __init__(self) -> None:
        self.cities: dict[str, int] = {}
        self.facts: set[tuple[str, int, str]] = set()

    def load_drop(self, drop_dir: Path) -> list[FileExpect]:
        return [self._load_file(p) for p in sorted(drop_dir.glob("*.csv"))]

    def _load_file(self, path: Path) -> FileExpect:
        exp = FileExpect(path.name, 0, 0, 0, 0)
        valid: list[tuple[str, int, str]] = []
        with open(path, newline="", encoding="utf-8") as fh:
            for row in csv.DictReader(fh):
                motivo = _motivo(row)
                if motivo is None:
                    valid.append(
                        (
                            row["nombre"].strip().capitalize(),
                            int(row["edad"]),
                            row["ciudad"].strip().title(),
                        )
                    )
                else:
                    exp.rejects[(row.get("nombre") or "", row.get("edad") or "", motivo)] += 1
        exp.valid_count = len(valid)
        exp.rejected_count = sum(exp.rejects.values())
        for city in sorted({v[2] for v in valid} - self.cities.keys()):
            self.cities[city] = len(self.cities) + 1
        for key in valid:  # INSERT OR IGNORE, one row at a time
            if key in self.facts:
                exp.ignored_duplicates += 1
            else:
                self.facts.add(key)
                exp.inserted_new += 1
        return exp


def _motivo(row: dict) -> str | None:
    """First failing check, in the reference's order."""
    if any(k not in row for k in HEADER):
        return MISSING_COLS
    if any(row[k] is None for k in HEADER):
        return NONE_VALUE
    try:
        edad = int(row["edad"])
    except ValueError:
        return BAD_INT
    if edad < EDAD_MIN:
        return UNDERAGE
    return None
