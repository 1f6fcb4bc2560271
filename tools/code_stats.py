#!/usr/bin/env python3
"""Size, duplication and knob inventory of the engine's main sources.

    python3 tools/code_stats.py            # from the repository root
    python3 tools/code_stats.py --root DIR # another checkout
    python3 tools/code_stats.py --json     # one JSON object instead

Prints these sections for `src/main/scala`:

- lines: physical lines and code lines (not blank, not comment) per
  file and in total, so a change that only strips comments or blank
  lines shows in the first count and not the second;
- duplicated windows: per file, how many windows of 8 consecutive code
  lines (stripped, blank and comment-only lines skipped) occur more
  than once anywhere in the tree;
- engine / contract split: the same three counts for the code inside
  the query files' `val oracleSql: Map[String, String] = Map(` blocks
  (the DuckDB oracle SQL, a frozen contract) and for everything else
  (the engine). A block runs from its header to the `)` that closes
  `Map(`, found by paren matching with comments and string literals
  masked; a duplicated window belongs to the part holding its first
  line;
- knobs: every setting a user can change without editing code — the
  environment variables read through `sys.env` / `System.getenv`, and
  the `spark.graft.*` conf keys — with the places that read them.
  Comment text is ignored, so a knob named only in a doc comment does
  not count;
- lineage cuts: every `.localCheckpoint(` code site (comments ignored),
  with its place.
"""
import argparse
import collections
import json
import os
import re
import sys

WINDOW = 8
ENV_RE = re.compile(
    r'(?:sys\.env\.(?:get|getOrElse|contains)\(\s*|sys\.env\(\s*|'
    r'System\.getenv\(\s*)"([^"]+)"')
CONF_RE = re.compile(r'"(spark\.graft\.[A-Za-z0-9_.]+)"')
CUT = ".localCheckpoint("
ORACLE_RE = re.compile(
    r'val\s+oracleSql\s*:\s*Map\[\s*String\s*,\s*String\s*\]\s*=\s*Map\(')


def sources(root):
    base = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(base):
        sys.exit(f"no src/main/scala under {root}")
    out = []
    for d, _, files in os.walk(base):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def code_lines(text):
    """(line number, code) per line, comments blanked: `//` tails and
    `/* ... */` blocks (scaladoc included)."""
    out, in_block = [], False
    for n, line in enumerate(text.split("\n"), 1):
        code, i = [], 0
        while i < len(line):
            if in_block:
                end = line.find("*/", i)
                if end < 0:
                    i = len(line)
                else:
                    in_block, i = False, end + 2
            elif line.startswith("/*", i):
                in_block, i = True, i + 2
            elif line.startswith("//", i):
                i = len(line)
            elif line[i] == '"':
                end = i + 1
                while end < len(line) and line[end] != '"':
                    end += 2 if line[end] == "\\" else 1
                code.append(line[i:end + 1])
                i = end + 1
            else:
                code.append(line[i])
                i += 1
        out.append((n, "".join(code)))
    return out


def masked(text):
    """`text` with comments and string/char literal contents replaced by
    spaces (newlines kept, so offsets and line numbers still match)."""
    out, i, n = list(text), 0, len(text)

    def blank(a, b):
        for k in range(a, b):
            if out[k] != "\n":
                out[k] = " "
    while i < n:
        if text.startswith("//", i):
            end = text.find("\n", i)
            end = n if end < 0 else end
            blank(i, end)
            i = end
        elif text.startswith("/*", i):
            end = text.find("*/", i + 2)
            end = n if end < 0 else end + 2
            blank(i, end)
            i = end
        elif text.startswith('"""', i):
            end = text.find('"""', i + 3)
            end = n if end < 0 else end + 3
            while end < n and text[end] == '"':
                end += 1
            blank(i + 1, end - 1)
            i = end
        elif text[i] == '"':
            end = i + 1
            while end < n and text[end] not in '"\n':
                end += 2 if text[end] == "\\" else 1
            blank(i + 1, end)
            i = end + 1
        elif re.match(r"'(\\.|[^\\'\n])'", text[i:i + 4]):
            end = text.index("'", i + 2) + 1
            blank(i + 1, end - 1)
            i = end
        else:
            i += 1
    return "".join(out)


def oracle_lines(text):
    """Line numbers inside the file's `oracleSql` Map( ... ) blocks."""
    m_text, lines = masked(text), set()
    for m in ORACLE_RE.finditer(m_text):
        depth, i = 1, m.end()
        while i < len(m_text) and depth:
            depth += {"(": 1, ")": -1}.get(m_text[i], 0)
            i += 1
        first = m_text.count("\n", 0, m.start()) + 1
        last = m_text.count("\n", 0, i - 1) + 1
        lines.update(range(first, last + 1))
    return lines


def stats(root):
    files = sources(root)
    lines, code_n, windows = {}, {}, {}
    contract_lines, contract_code, first_in = {}, {}, {}
    knobs = collections.defaultdict(list)
    cuts = []
    where = collections.defaultdict(list)
    for f in files:
        rel = os.path.relpath(f, root)
        with open(f, encoding="utf-8", errors="replace") as fh:
            text = fh.read()
        lines[rel] = text.count("\n") + (0 if text.endswith("\n") else 1)
        oracle = oracle_lines(text)
        contract_lines[rel] = len(oracle)
        code = code_lines(text)
        kept = [(n, c.strip()) for n, c in code if c.strip()]
        code_n[rel] = len(kept)
        contract_code[rel] = sum(1 for n, _ in kept if n in oracle)
        windows[rel] = [tuple(c for _, c in kept[i:i + WINDOW])
                        for i in range(len(kept) - WINDOW + 1)]
        first_in[rel] = [kept[i][0] in oracle
                         for i in range(len(kept) - WINDOW + 1)]
        for w in windows[rel]:
            where[w].append(rel)
        for n, c in code:
            for m in ENV_RE.finditer(c):
                knobs[("env", m.group(1))].append(f"{rel}:{n}")
            for m in CONF_RE.finditer(c):
                knobs[("conf", m.group(1))].append(f"{rel}:{n}")
            cuts += [f"{rel}:{n}"] * c.count(CUT)
    dup, dup_contract = {}, {}
    for rel, ws in windows.items():
        hits = [len(where[w]) > 1 for w in ws]
        dup[rel] = sum(hits)
        dup_contract[rel] = sum(h and c for h, c in zip(hits, first_in[rel]))

    def part(contract):
        pick = (lambda a, c: c) if contract else (lambda a, c: a - c)
        return {
            "lines_total": sum(pick(lines[r], contract_lines[r])
                               for r in lines),
            "code_total": sum(pick(code_n[r], contract_code[r])
                              for r in lines),
            "dup_windows_total": sum(pick(dup[r], dup_contract[r])
                                     for r in lines),
        }
    return {
        "lines": lines,
        "lines_total": sum(lines.values()),
        "code": code_n,
        "code_total": sum(code_n.values()),
        "files": len(lines),
        "dup_windows": {k: v for k, v in dup.items() if v},
        "dup_windows_total": sum(dup.values()),
        "contract": {k: (contract_lines[k], contract_code[k], dup_contract[k])
                     for k in lines if contract_lines[k]},
        "engine_totals": part(False),
        "contract_totals": part(True),
        "knobs": {f"{kind} {name}": sorted(set(at))
                  for (kind, name), at in sorted(knobs.items())},
        "local_checkpoint_sites": cuts,
        "local_checkpoint_total": len(cuts),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--root", default=".", help="repository root")
    ap.add_argument("--json", action="store_true", help="print JSON")
    a = ap.parse_args()
    s = stats(a.root)
    if a.json:
        print(json.dumps(s, indent=1, sort_keys=True))
        return
    print("== lines, code lines (src/main/scala)")
    for rel, n in sorted(s["lines"].items()):
        print(f"  {n:6d} {s['code'][rel]:6d}  {rel}")
    print(f"  {s['lines_total']:6d} {s['code_total']:6d}  total "
          f"({s['files']} files)")
    print(f"== duplicated {WINDOW}-line windows")
    for rel, n in sorted(s["dup_windows"].items(), key=lambda x: -x[1]):
        print(f"  {n:6d}  {rel}")
    print(f"  {s['dup_windows_total']:6d}  total")
    print("== engine / contract (oracleSql blocks): lines, code lines, "
          "duplicated windows")
    for rel, (ln, cn, dn) in sorted(s["contract"].items()):
        print(f"  {ln:6d} {cn:6d} {dn:6d}  {rel} (contract)")
    for name in ("engine", "contract"):
        t = s[f"{name}_totals"]
        print(f"  {t['lines_total']:6d} {t['code_total']:6d} "
              f"{t['dup_windows_total']:6d}  {name} total")
    print("== knobs")
    for k, at in s["knobs"].items():
        print(f"  {k}  {', '.join(at)}")
    kinds = collections.Counter(k.split()[0] for k in s["knobs"])
    print(f"  {len(s['knobs'])} total ({kinds['env']} env, "
          f"{kinds['conf']} conf)")
    print(f"== lineage cuts ({CUT} code sites)")
    for at in s["local_checkpoint_sites"]:
        print(f"  {at}")
    print(f"  {s['local_checkpoint_total']} total")


if __name__ == "__main__":
    main()
