#!/usr/bin/env python3
"""Generate QUERIES.md — the declared-query index (round-10 verdict #9).

Parses the per-file query registries (`Q("qKEY", method, oracle)`) that
`SparkEntry.registry` concatenates, resolves each key to its `def` site
(file:line) and its scaladoc headline (`/** qNNN — TITLE (rationale...`),
and emits one table row per key, grouped by operator family. The
committed output is CI-checked by QueriesIndexSpec: the spec fails when
the index's key set drifts from `SparkEntry.queries.keySet`, so a new
query can't land without regenerating this file.

Usage: python3 tools/gen_queries_md.py   (from the repo root)
"""
import re
import sys

FILES = [
    ("src/main/scala/graft/operators/Core.scala", "Core"),
    ("src/main/scala/graft/operators/Extensions.scala", "Extensions"),
    ("src/main/scala/graft/operators/Dedup.scala", "Dedup"),
    ("src/main/scala/graft/operators/Similarity.scala", "Similarity"),
    ("src/main/scala/graft/operators/TextOps.scala", "TextOps"),
    ("src/main/scala/graft/operators/Multimodal.scala", "Multimodal"),
    ("src/main/scala/graft/operators/Pipeline.scala", "Pipeline"),
    ("src/main/scala/graft/operators/Graph.scala", "Graph"),
    ("src/main/scala/graft/operators/Analytics.scala", "Analytics"),
    ("src/main/scala/graft/operators/Stats.scala", "Stats"),
    ("src/main/scala/graft/operators/Portfolio.scala", "Portfolio"),
    ("src/main/scala/graft/operators/Curation.scala", "Curation"),
    ("src/main/scala/graft/streaming/EventStream.scala", "Streaming"),
]

REG = re.compile(r'\bQ\("(q\w+)",')
DOC = re.compile(r'/\*\*\s*(q\d+)(?:\'s)?\s+—\s+(.+)')


def headline(text):
    """First scaladoc sentence fragment: up to the opening rationale
    paren, colon, or period — whichever comes first and is non-empty."""
    t = text.strip()
    for stop in [" (", ": ", ". ", " — "]:
        i = t.find(stop)
        if i > 0:
            t = t[:i]
    t = t.rstrip(".:;,— ").replace("|", "\\|")
    return t if t else "(see scaladoc)"


def main():
    rows = {}  # key -> (family, file, line, title)
    for path, family in FILES:
        lines = open(path).read().split("\n")
        # map query number -> (doc title, nearest following def line)
        docs = {}
        for i, ln in enumerate(lines):
            m = DOC.search(ln)
            if m:
                qnum = m.group(1)
                # join continuation lines until the headline has a stop
                buf = m.group(2)
                j = i + 1
                while (" (" not in buf and ": " not in buf
                       and ". " not in buf and j < len(lines)
                       and j < i + 4):
                    buf += " " + lines[j].strip().lstrip("* ")
                    j += 1
                # def line: first `def qNNN` after the doc block
                defline = None
                for j in range(i + 1, min(i + 120, len(lines))):
                    if re.match(r"\s*def " + qnum + r"[A-Z]", lines[j]):
                        defline = j + 1
                        break
                # scale-path annotation: a scaladoc paragraph starting
                # "EVAL-ONLY (reference geometry; scale path: qNNN)"
                # surfaces in the index so no declared query carries an
                # unannotated quadratic plan (round-11 verdict #5)
                flag = ""
                for j in range(i, min(i + 60, len(lines))):
                    fm = re.search(
                        r"EVAL-ONLY \(reference geometry; scale path:"
                        r"\s*(q\w+)\)", lines[j])
                    if fm:
                        flag = (" **[EVAL-ONLY at reference geometry; "
                                f"scale path: {fm.group(1)}]**")
                        break
                    if "*/" in lines[j]:
                        break
                if qnum not in docs or docs[qnum][1] is None:
                    docs[qnum] = (headline(buf) + flag, defline)
        for i, ln in enumerate(lines):
            m = REG.search(ln)
            if not m:
                continue
            key = m.group(1)
            qnum = key.split("_")[0]
            title, defline = docs.get(qnum, (None, None))
            if title is None:
                title = key.split("_", 1)[1].replace("_", " ")
            loc = f"{path.split('scala/')[1]}:{defline or i + 1}"
            rows[key] = (family, loc, title)

    def sortkey(k):
        m = re.match(r"q(\d+)", k)
        return (int(m.group(1)), k)

    out = ["# QUERIES — declared-query index",
           "",
           f"{len(rows)} declared queries (generated by "
           "`tools/gen_queries_md.py`; CI-checked against "
           "`SparkEntry.queries` by QueriesIndexSpec — regenerate after "
           "adding a query). Each key is one `Q(name, run, oracle)` "
           "registry entry — a Spark body and its DuckDB differential — "
           "and has a BASELINE.md bench entry (`baseline_queries.json`).",
           ""]
    for path, family in FILES:
        fam_rows = sorted((k for k, v in rows.items() if v[0] == family),
                          key=sortkey)
        if not fam_rows:
            continue
        out.append(f"## {family} ({len(fam_rows)})")
        out.append("")
        out.append("| key | what | where |")
        out.append("|---|---|---|")
        for k in fam_rows:
            _, loc, title = rows[k]
            out.append(f"| {k} | {title} | {loc} |")
        out.append("")
    with open("QUERIES.md", "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"{len(rows)} keys -> QUERIES.md")
    missing_doc = [k for k, v in rows.items() if v[2] == "(see scaladoc)"]
    if missing_doc:
        print(f"note: {len(missing_doc)} keys with unparsed headline",
              file=sys.stderr)


if __name__ == "__main__":
    main()
