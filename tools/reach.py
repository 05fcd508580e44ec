"""Reachability check over the compiled program.

Reads the constant pool of every class file under the classes directory
(no javap, no JVM), builds the class graph and walks it from the roots:

  - edges: class references (CONSTANT_Class entries and the `Lpkg/Name;`
    types inside descriptors and generic signatures), plus string
    constants that name a compiled class (`format("graft.sources.XlsxV2")`,
    `spark.sql.extensions`);
  - roots: the query registry (`graft.SparkEntry$`), the daily job
    (`graft.etl.FraudEtlPipeline$`), the three mains (`graft.Bench$`,
    `graft.Verify$`, `graft.Plans$`) and every `graft.*` name that the
    benchmark driver (`perfbench/driver/*.scala`) imports.

Classes are grouped into source files by their `SourceFile` attribute.
Prints each source file that no root reaches, with its line count, and
exits 1 when one of them has no one-line justification in
`tools/reach_allow.txt` (`<path> <why>` per line, `#` starts a comment).

    sbt -batch compile && python3 tools/reach.py [classes_dir]
"""
import glob
import os
import re
import struct
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CLASSES = os.path.join(ROOT, "target", "scala-2.13", "classes")
ALLOW = os.path.join(ROOT, "tools", "reach_allow.txt")
ROOTS = ["graft/SparkEntry$", "graft/etl/FraudEtlPipeline$", "graft/Bench$",
         "graft/Verify$", "graft/Plans$"]

DESCRIPTOR_TYPE = re.compile(r"L([\w/$]+)[;<]")
# constant-pool entry sizes after the tag byte, for the tags we skip
SKIP = {3: 4, 4: 4, 5: 8, 6: 8, 9: 4, 10: 4, 11: 4, 12: 4, 15: 3, 16: 2,
        17: 4, 18: 4, 19: 2, 20: 2}


def parse(path):
    """(SourceFile or None, referenced class names) of one class file."""
    with open(path, "rb") as f:
        b = f.read()
    if b[:4] != b"\xca\xfe\xba\xbe":
        raise SystemExit(f"not a class file: {path}")
    n = struct.unpack_from(">H", b, 8)[0]
    utf8, classes, strings = {}, [], []
    i, pos = 1, 10
    while i < n:
        tag = b[pos]
        pos += 1
        if tag == 1:
            ln = struct.unpack_from(">H", b, pos)[0]
            utf8[i] = b[pos + 2:pos + 2 + ln].decode("utf-8", "replace")
            pos += 2 + ln
        elif tag == 7:
            classes.append(struct.unpack_from(">H", b, pos)[0])
            pos += 2
        elif tag == 8:
            strings.append(struct.unpack_from(">H", b, pos)[0])
            pos += 2
        else:
            pos += SKIP[tag]
        i += 2 if tag in (5, 6) else 1  # longs and doubles take two slots
    pos += 6  # access flags, this class, super class
    pos += 2 + 2 * struct.unpack_from(">H", b, pos)[0]  # interfaces
    for _ in range(2):  # fields, then methods, with their attributes
        count = struct.unpack_from(">H", b, pos)[0]
        pos += 2
        for _ in range(count):
            attrs = struct.unpack_from(">H", b, pos + 6)[0]
            pos += 8
            for _ in range(attrs):
                pos += 6 + struct.unpack_from(">I", b, pos + 2)[0]
    source = None
    count = struct.unpack_from(">H", b, pos)[0]
    pos += 2
    for _ in range(count):
        name, ln = struct.unpack_from(">HI", b, pos)
        if utf8.get(name) == "SourceFile":
            source = utf8[struct.unpack_from(">H", b, pos + 6)[0]]
        pos += 6 + ln
    refs = {utf8[c] for c in classes if not utf8[c].startswith("[")}
    for s in utf8.values():  # descriptors, signatures, array classes
        refs.update(DESCRIPTOR_TYPE.findall(s))
    refs.update(utf8[s].replace(".", "/") for s in strings)
    return source, refs


def load(classes_dir):
    """name -> (source path relative to the repo, refs)."""
    graph = {}
    for path in glob.glob(os.path.join(classes_dir, "**", "*.class"), recursive=True):
        rel = os.path.relpath(path, classes_dir)[:-len(".class")].replace(os.sep, "/")
        source, refs = parse(path)
        pkg = os.path.dirname(rel)
        src = os.path.join("src", "main", "scala", pkg, source) if source else None
        graph[rel] = (src, refs)
    return graph


def driver_imports():
    """graft.* names the benchmark driver imports, as class-file names."""
    names = []
    for f in sorted(glob.glob(os.path.join(ROOT, "perfbench", "driver", "*.scala"))):
        with open(f) as fh:
            for m in re.finditer(r"^import\s+(graft(?:\.\w+)*)\.(\{[^}]*\}|\w+)", fh.read(), re.M):
                pkg, sel = m.group(1), m.group(2)
                for n in re.split(r"\s*,\s*", sel.strip("{} ")):
                    n = n.split("=>")[0].strip()
                    if n and n != "_":
                        names.append(f"{pkg}.{n}".replace(".", "/"))
    return names


def class_names(name):
    """Class files an imported name may compile to: `a/B`, `a/B$`, and
    for a member of an object (`a/B/C`) `a/B$C`, `a/B$C$`."""
    out = []
    while True:
        out += [name, name + "$"]
        head, _, tail = name.rpartition("/")
        if not head:
            return out
        name = f"{head}${tail}"


def main():
    classes_dir = sys.argv[1] if len(sys.argv) > 1 else CLASSES
    graph = load(classes_dir)
    if not graph:
        raise SystemExit(f"no class files under {classes_dir}; run `sbt compile` first")
    roots = [r for name in ROOTS + driver_imports() for r in class_names(name) if r in graph]
    seen, stack = set(roots), list(roots)
    while stack:
        for r in graph[stack.pop()][1]:
            if r in graph and r not in seen:
                seen.add(r)
                stack.append(r)
    reached = {graph[c][0] for c in seen}
    unreached = sorted({src for src, _ in graph.values() if src and src not in reached})

    allow = {}
    if os.path.exists(ALLOW):
        with open(ALLOW) as f:
            for line in f:
                line = line.split("#", 1)[0].strip()
                if line:
                    path, _, why = line.partition(" ")
                    allow[path] = why.strip()
    missing = []
    for src in unreached:
        p = os.path.join(ROOT, src)
        lines = sum(1 for _ in open(p)) if os.path.exists(p) else 0
        why = allow.get(src)
        print(f"{lines:6d}  {src}  -- {why or 'NOT JUSTIFIED'}")
        if not why:
            missing.append(src)
    for stale in sorted(set(allow) - set(unreached)):
        print(f"stale allowlist entry (reached or gone): {stale}")
    print(f"{len(unreached)} unreached source files, "
          f"{len(missing)} without a justification in tools/reach_allow.txt")
    sys.exit(1 if missing else 0)


if __name__ == "__main__":
    main()
