"""Seeded syllabus corpus for the `syllabus_etl` workload, plus its ground truth.

Writes a directory tree of documents in graft's `DocSource.DelimitedPages`
format (pages split by form feed; a page's table after 0x1D, rows split by
0x1E, cells by 0x1F) and `truth.json`, computed from the generator's own
inputs: the serialized course records, the rejected document ids, the
weekly calendar, the course legend and both read-back answers.

Make-up of a corpus of N documents (all shares fixed, placement seeded):
  - N/20 with a bad filename (no trailing 0 after the period): rejected;
  - N/20 with a unit-table grammar violation: rejected;
  - N/20 with the name, credits and weeks labels missing: parsed with defaults;
  - N/10 with the units table split across two pages: parsed normally;
  - the rest well-formed.
Every document has a unique filename. The tree is
`<root>/<department>/<period>/UG-<period>0_<course>-<nrc>.pdf`, plus
files the scan's glob must skip.

Usage: python3 perfbench/gen_syllabus.py <docs> <seed> <out_dir>
"""
import json
import os
import random
import sys

PAGE, TABLE, ROW, CELL = "\f", "\x1d", "\x1e", "\x1f"
DEPTS = ["CC", "MA", "EL", "IN", "CI", "AD"]
PERIODS = ["2024-1", "2024-2", "2025-1", "2025-2"]
START, END = "2025-08-25", "2025-12-06"  # graft's period table and fallback
WORDS = ["análisis", "datos", "modelos", "sistemas", "redes", "cálculo",
         "diseño", "gestión", "procesos", "señales", "métodos", "álgebra",
         "software", "control", "energía", "estructuras", "lógica", "teoría"]
FIRST = ["Ana", "Juan", "Lucía", "Pedro", "María", "José", "Rosa", "Luis"]
LAST = ["García", "López", "Quispe", "Torres", "Rojas", "Flores", "Vargas"]
KINDS = [("PC", "Práctica Calificada"), ("EA", "Evaluación Parcial"),
         ("EB", "Evaluación Final"), ("TA", "Tarea Académica"),
         ("TF", "Trabajo Final"), ("LB", "Laboratorio")]
WEIGHTS = [5.0, 10.0, 12.5, 15.0, 20.0, 25.0, 30.0]
SECTIONS_BEFORE_UNITS = ["III. INTRODUCCIÓN", "IV. LOGRO (S) DEL CURSO",
                         "V. COMPETENCIAS (S) DEL CURSO"]


def phrase(rng, n):
    return " ".join(rng.choice(WORDS) for _ in range(n))


def encode(pages):
    out = []
    for text, table in pages:
        if table:
            text = text + TABLE + ROW.join(CELL.join(r) for r in table)
        out.append(text)
    return PAGE.join(out).encode("utf-8")


def make_doc(rng, i, kind):
    """One document: (relative path, pages, expected record or reject)."""
    dept = DEPTS[i % len(DEPTS)]
    period = rng.choice(PERIODS)
    course_id = f"1A{dept}{i:04d}"
    nrc = f"{i:04d}"
    p5 = period.replace("-", "")
    fname = (f"UG-{p5}_{course_id}-{nrc}.pdf" if kind == "bad_filename"
             else f"UG-{p5}0_{course_id}-{nrc}.pdf")
    name = f"{phrase(rng, 1).capitalize()} de {phrase(rng, 2)} {i}"
    faculty = [f"{rng.choice(FIRST)} {rng.choice(LAST)}" for _ in range(rng.randint(1, 3))]
    credits = rng.randint(2, 6)
    weeks = rng.choice([16, 18])
    areas = [f"Ingeniería de {phrase(rng, 1)}" for _ in range(rng.randint(1, 3))]
    area_tail = f"Programa {i % 7}"
    areas[-1] = areas[-1] + " " + area_tail

    general = ["I. INFORMACIÓN GENERAL"]
    if kind != "missing_labels":
        general.append(f"Nombre del Curso: {name}")
    general.append(f"Código del curso: {course_id}")
    general.append("Cuerpo académico: " + " •".join(faculty))
    if kind != "missing_labels":
        general.append(f"Créditos: {credits}")
        general.append(f"Semanas: {weeks}")
    head, tail = areas[-1][: -len(area_tail) - 1], area_tail
    general.append(": " + ", ".join(areas[:-1] + [head]))
    general.append(f"Área o programa {tail}")
    general.append("II. MISIÓN Y VISIÓN DE LA UPC")
    general.append(phrase(rng, 8))
    if kind == "missing_labels":
        name, credits, weeks = "", 0, 16

    units, blocks, week = [], [], 1
    for u in range(1, rng.randint(2, 5) + 1):
        title = phrase(rng, 3).capitalize()
        achievement = "Al finalizar la unidad, " + phrase(rng, 4)
        w1, w2 = week, week + rng.randint(1, 4)
        week = w2 + 1
        topics = [phrase(rng, 2) for _ in range(rng.randint(1, 3))]
        acts = [phrase(rng, 2) for _ in range(rng.randint(1, 2))]
        comp = "COMPETENCIA (S): " + phrase(rng, 2)
        if kind == "grammar" and u == 1:
            comp = "COMPETENCIAS: " + phrase(rng, 2)
        blocks.append([
            [f"Unidad n. {u}: {title}", "", "", "", ""],
            [comp, "", "", "", ""],
            ["LOGRO DE LA UNIDAD: " + achievement, "", "", "", ""],
            ["SEMANA", "SABERES", "ACTIVIDADES", "EVIDENCIAS", "BIBLIOGRAFÍA"],
            [f"Semana {w1} - {w2}", "".join("•" + t for t in topics),
             "".join("•" + a for a in acts), "", ""],
        ])
        units.append({"number": u, "title": title, "achievement": achievement,
                      "initial_week": w1, "last_week": w2,
                      "initial_date": START, "last_date": END,
                      "syllabus": topics, "activities": acts,
                      "exams": [], "bibliography": []})

    assess_rows = [["TIPO", "COMPETENCIA", "PESO", "SEMANA", "OBSERVACIÓN", "RECUPERABLE"]]
    assessments = []
    for a in range(rng.randint(3, 6)):
        code, label = rng.choice(KINDS)
        aname = f"{label} {a + 1}"
        weight = rng.choice(WEIGHTS)
        wk = rng.randint(1, weeks)
        w_txt = f"{weight:g}%"
        assess_rows.append([f"{aname}-{code}", phrase(rng, 1), w_txt, str(wk), "",
                            rng.choice(["Sí", "No"])])
        assessments.append({"name": aname, "abrev": code, "weight": weight, "week": wk,
                            "initial_date": START, "last_date": END})
    # A row whose week is not an integer is dropped row by row.
    assess_rows.append(["Examen de recuperación-ER", "Todas", "10%", "Por definir", "", "No"])

    pages = [("Sílabo de Curso\n" + name, None),
             ("\n".join(general), None),
             ("\n".join(SECTIONS_BEFORE_UNITS) + "\n" + phrase(rng, 6), None)]
    unit_rows = [r for b in blocks for r in b]
    if kind == "split_table" and len(blocks) > 1:
        cut = 5 * rng.randint(1, len(blocks) - 1)
        pages.append(("VI. UNIDADES DE APRENDIZAJE\n" + phrase(rng, 3), unit_rows[:cut]))
        pages.append((phrase(rng, 4), unit_rows[cut:]))
    else:
        pages.append(("VI. UNIDADES DE APRENDIZAJE\n" + phrase(rng, 3), unit_rows))
    pages.append(("VII. METODOLOGÍA\n" + phrase(rng, 6), None))
    pages.append(("VIII. EVALUACIÓN\n" + phrase(rng, 3), assess_rows))
    pages.append(("IX. BIBLIOGRAFÍA DEL CURSO\n" + phrase(rng, 5), [["Autor", "Título"]]))

    rel = os.path.join(dept, period, fname)
    if kind in ("bad_filename", "grammar"):
        return rel, pages, None, fname
    record = {"id": course_id, "name": name, "period": period, "faculty": faculty,
              "credits": credits, "weeks": weeks, "area": areas, "nrc": nrc,
              "units": units, "assessments": assessments}
    return rel, pages, record, fname


def generate(n_docs, seed, out_dir):
    rng = random.Random(seed)
    kinds = (["bad_filename"] * (n_docs // 20) + ["grammar"] * (n_docs // 20) +
             ["missing_labels"] * (n_docs // 20) + ["split_table"] * (n_docs // 10))
    kinds += ["ok"] * (n_docs - len(kinds))
    rng.shuffle(kinds)
    corpus = os.path.join(out_dir, "corpus")
    records, rejects = [], {}
    for i, kind in enumerate(kinds):
        rel, pages, record, fname = make_doc(rng, i, kind)
        path = os.path.join(corpus, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(encode(pages))
        if record is None:
            rejects[fname] = ("Invalid filename format" if kind == "bad_filename"
                              else "Invalid competition format")
        else:
            records.append(record)
    # Files the glob UG-*_1A*-*.pdf must skip.
    for dept in DEPTS:
        with open(os.path.join(corpus, dept, "README.txt"), "w") as f:
            f.write("not a syllabus\n")
        with open(os.path.join(corpus, dept, f"UG-202520_2B{dept}0000-0000.pdf"), "wb") as f:
            f.write(b"excluded by the glob")

    by_week = {}
    for r in records:
        for pos, a in enumerate(r["assessments"]):
            by_week.setdefault(a["week"], []).append(
                (r["id"], pos, f"•{r['id']}: {a['name']} ({a['weight']!r}%)"))
    calendar = [{"week": w, "content": "\n".join(x[2] for x in sorted(v))}
                for w, v in sorted(by_week.items())]
    legend = sorted(f"•{r['id']}: {r['name']}" for r in records)
    find_id = records[rng.randrange(len(records))]["id"]
    find_period = rng.choice(PERIODS)
    truth = {"docs": n_docs, "records": records, "rejects": rejects,
             "calendar": calendar, "legend": legend,
             "find_id": find_id, "find_period": find_period}
    with open(os.path.join(out_dir, "truth.json"), "w", encoding="utf-8") as f:
        json.dump(truth, f, ensure_ascii=False)
    return truth


if __name__ == "__main__":
    generate(int(sys.argv[1]), int(sys.argv[2]), sys.argv[3])
