#!/usr/bin/env python3
"""List every public def in src/main that no root reaches, from bytecode.

Usage (from the repository root, after `sbt Test/compile` and a bench
build, e.g. `cd bench && sbt compile`):

    python3 scripts/reach.py

It disassembles the compiled engine classes (target/scala-2.13/classes)
and the benchmark's classes (bench/target/scala-2.13/classes) with
`javap -c -p -v` and walks the call graph from the roots:

  * every method of the SparkEntry, Bench, Verify and QueryLoop objects;
  * every `main(String[])`;
  * every method of every benchmark class.

A reached method reaches:

  * the targets of its invoke instructions (resolved up the class
    hierarchy, and down to the overrides in internal subtypes);
  * the method handles among the bootstrap arguments of its
    invokedynamic instructions (Scala lambdas, `_ => KernelSubstitution`);
  * the `<clinit>` of every class whose members it touches;
  * when it builds a Catalyst `StaticInvoke`, the methods named by its
    string constants on the objects it loads (a kernel's
    `StaticInvoke(XImpl.getClass, _, "method", ...)` calls by name);
  * the constructor of an internal class named by a string constant
    (reflective instantiation, e.g. a TypeTag's `staticClass`).

A class whose constructor is reached has all its methods reached: the
framework (Catalyst, Spark's scheduler, the Scala collections) calls
its overrides. Scala objects are the exception: their constructor runs
on first touch, so only the methods actually invoked count, plus every
method of an object that extends a framework class (such an object is
handed to the framework as a value).

It prints every unreached public def, ignoring compiler-synthetic ones,
and exits 1 when one of them is not matched by an entry of
scripts/reach_allow.txt. Each entry of that file is an fnmatch pattern
over `package.Class.method`, followed by `#` and the reason it stays;
an entry without a reason, or one that matches nothing unreached, also
fails the check.
"""
import fnmatch
import os
import re
import subprocess
import sys
from collections import defaultdict, deque

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAIN_CLASSES = os.path.join(ROOT, "target", "scala-2.13", "classes")
BENCH_CLASSES = os.path.join(ROOT, "bench", "target", "scala-2.13", "classes")
ALLOW = os.path.join(ROOT, "scripts", "reach_allow.txt")

ROOT_OBJECTS = {"graft/SparkEntry$", "graft/Bench$", "graft/Verify$",
                "graft/QueryLoop$"}
MAIN_DESC = "([Ljava/lang/String;)V"

# Supertypes through which no framework calls back into a class.
PLAIN_SUPERS = {"java/lang/Object", "java/io/Serializable", "scala/Serializable"}
# What the JVM and the collections call on any object.
OBJECT_METHODS = {"equals", "hashCode", "toString"}

# Compiler-generated names that are never a def someone wrote.
SYNTHETIC_NAME = re.compile(
    r"(\$anonfun\$|\$deserializeLambda\$|\$init\$|\$default\$|\$adapted|"
    r"\$\$|\$lzycompute|\$mc[A-Z]+\$sp|\$extension|\$lessinit\$greater|"
    r"^<clinit>$|^\$anonfun|^MODULE\$$|^writeReplace$|^readResolve$)")
CASE_CLASS_METHODS = {
    "copy", "productArity", "productElement", "productPrefix",
    "productIterator", "productElementName", "productElementNames",
    "canEqual", "equals", "hashCode", "toString"}
COMPANION_METHODS = {"apply", "unapply", "unapplySeq", "toString",
                     "tupled", "curried"}

ACC_PUBLIC, ACC_STATIC, ACC_BRIDGE, ACC_SYNTHETIC = 0x1, 0x8, 0x40, 0x1000

STATIC_INVOKE = "org/apache/spark/sql/catalyst/expressions/objects/StaticInvoke"


class Klass:
    def __init__(self, name, origin):
        self.name = name          # internal form: graft/operators/Dedup$
        self.origin = origin      # "main" or "bench"
        self.super = None
        self.interfaces = []
        self.access = 0
        self.cp = {}              # index -> (tag, text)
        self.methods = {}         # (name, desc) -> Method
        self.fields = set()
        self.bootstraps = {}      # index -> [cp indices: handle, args...]

    @property
    def is_module(self):
        return self.name.endswith("$") and "MODULE$" in self.fields


class Method:
    def __init__(self, owner, name, desc):
        self.owner, self.name, self.desc = owner, name, desc
        self.access = 0
        self.refs = []            # (opcode, cp index)


def strip_generics(s):
    out, depth = [], 0
    for ch in s:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        elif depth == 0:
            out.append(ch)
    return "".join(out)


def flags_of(line):
    m = re.search(r"flags: \(0x([0-9a-f]+)\)", line)
    return int(m.group(1), 16) if m else 0


CP_LINE = re.compile(r"^\s*#(\d+) = (\w+) *(.*)$")
INSN = re.compile(r"^\s+\d+: (\w+)\s+#(\d+)")
BSM_HEAD = re.compile(r"^\s+(\d+): #(\d+) ")
BSM_ARG = re.compile(r"^\s+#(\d+) ")
MEMBER = re.compile(r"^  \S.*;$")


def parse(text, origin, classes):
    k = section = decl = meth = bsm = pending = None
    for line in text.split("\n"):
        if line.startswith("Classfile "):
            k, section, decl, meth, bsm, pending = None, "head", None, None, None, None
            continue
        if section == "head":
            m = re.match(r"^\s*this_class: #\d+\s+// (\S+)", line)
            if m:
                k = Klass(m.group(1), origin)
                classes[k.name] = k
                k.access = pending[0]
                k.interfaces = pending[1]
                continue
            m = re.match(r"^\s*super_class: #\d+\s+// (\S+)", line)
            if m:
                k.super = m.group(1)
                continue
            m = re.match(r"^[\w ]*\b(class|interface) \S+(.*)$", line)
            if m:
                # an interface lists its supertypes after `extends`
                key = "extends" if m.group(1) == "interface" else "implements"
                im = re.search(rf"\b{key} (.*)$", strip_generics(m.group(2)))
                ifaces = [i.strip().replace(".", "/")
                          for i in im.group(1).split(",")] if im else []
                pending = [0, ifaces]
                continue
            if line.startswith("  flags:") and pending is not None:
                pending[0] = flags_of(line)
                continue
            if line.startswith("Constant pool:"):
                section = "cp"
            continue
        if section == "cp":
            if line.startswith("{"):
                section = "members"
                continue
            m = CP_LINE.match(line)
            if m:
                tag, rest = m.group(2), m.group(3)
                val, _, comment = (rest, "", "") if tag == "Utf8" \
                    else rest.partition("//")
                k.cp[int(m.group(1))] = (tag, val.strip(), comment.strip())
            continue
        if section == "members":
            if line.startswith("}"):
                section = "tail"
                continue
            if MEMBER.match(line):
                decl, meth = line.strip(), None
                continue
            if decl is not None and line.startswith("    descriptor: "):
                desc = line.split("descriptor: ", 1)[1].strip()
                if not desc.startswith("("):
                    k.fields.add(re.search(r"([\w$]+);$", decl).group(1))
                elif decl.endswith("static {};"):
                    meth = Method(k, "<clinit>", desc)
                else:
                    name = re.search(r"([\w$.]+)$", decl.split("(", 1)[0]).group(1)
                    meth = Method(k, "<init>" if "." in name else name, desc)
                if meth is not None:
                    k.methods[(meth.name, desc)] = meth
                decl = None
                continue
            if meth is not None and line.startswith("    flags:"):
                meth.access = flags_of(line)
            elif meth is not None:
                m = INSN.match(line)
                if m:
                    meth.refs.append((m.group(1), int(m.group(2))))
            continue
        if section == "tail":
            if line.startswith("BootstrapMethods:"):
                section = "bsm"
            continue
        if section == "bsm":
            m = BSM_HEAD.match(line)
            if m:
                bsm = [int(m.group(2))]
                k.bootstraps[int(m.group(1))] = bsm
                continue
            m = BSM_ARG.match(line)
            if m and bsm is not None:
                bsm.append(int(m.group(1)))
                continue
            if line and not line.startswith(" "):
                section = "tail"


def member_ref(k, idx):
    """(owner, name, desc) of a Methodref/Fieldref/MethodHandle entry."""
    tag, _, comment = k.cp.get(idx, ("", "", ""))
    if tag == "MethodHandle":
        comment = comment.split(" ", 1)[1] if " " in comment else comment
    m = re.match(r'^"?([^":]+?)"?\.("?[^.:"]+"?):(.*)$', comment)
    if not m:
        return None
    return m.group(1), m.group(2).strip('"'), m.group(3)


def string_of(k, idx):
    tag, val, _ = k.cp.get(idx, ("", "", ""))
    if tag != "String":
        return None
    utf = k.cp.get(int(val.lstrip("#")), ("", "", ""))
    return utf[1] if utf[0] == "Utf8" else None


class Graph:
    def __init__(self, classes):
        self.classes = classes
        self.subtypes = defaultdict(set)
        self.by_string = {}
        for c in classes.values():
            for s in [c.super] + c.interfaces:
                if s in classes:
                    self.subtypes[s].add(c.name)
            dotted = c.name.replace("/", ".")
            self.by_string[dotted] = c.name
            self.by_string.setdefault(dotted.replace("$", ".").rstrip("."), c.name)
        self.reached = set()      # (class, name, desc)
        self.instantiated = set()
        self.queue = deque()

    def mark(self, cls, name, desc):
        c = self.classes.get(cls)
        if c is None or (name, desc) not in c.methods:
            return
        key = (cls, name, desc)
        if key in self.reached:
            return
        self.reached.add(key)
        self.queue.append(c.methods[(name, desc)])
        if name != "<clinit>":
            self.mark(cls, "<clinit>", "()V")
        if name == "<init>":
            self.instantiate(cls)

    def mark_named(self, cls, name):
        for (n, d) in list(self.classes[cls].methods):
            if n == name:
                self.mark(cls, n, d)

    def framework_facing(self, cls):
        """Whether a supertype outside this code base can call back into
        the class (Catalyst's Expression, Scala's Function1 or Product)."""
        c = self.classes.get(cls)
        if c is None:
            return cls not in PLAIN_SUPERS
        return any(self.framework_facing(s) for s in [c.super] + c.interfaces
                   if s is not None)

    def instantiate(self, cls):
        if cls in self.instantiated:
            return
        self.instantiated.add(cls)
        c = self.classes[cls]
        for (n, d) in list(c.methods):
            if n in OBJECT_METHODS or self.framework_facing(cls):
                self.mark(cls, n, d)

    def resolve(self, cls, name, desc):
        """Mark the declaration an invoke of cls.name binds to, then the
        overrides in internal subtypes (virtual dispatch)."""
        seen, todo = set(), deque([cls])
        while todo:
            cur = todo.popleft()
            if cur in seen or cur not in self.classes:
                continue
            seen.add(cur)
            c = self.classes[cur]
            if (name, desc) in c.methods:
                self.mark(cur, name, desc)
                break
            todo.extend([c.super] + c.interfaces)
        if name.startswith("<"):
            return
        seen, todo = set(), deque([cls])
        while todo:
            for sub in self.subtypes.get(todo.popleft(), ()):
                if sub not in seen:
                    seen.add(sub)
                    self.mark(sub, name, desc)
                    todo.append(sub)

    def follow(self, k, idx):
        ref = member_ref(k, idx)
        if ref:
            self.mark(ref[0], "<clinit>", "()V")
            self.resolve(*ref)

    def run(self):
        while self.queue:
            m = self.queue.popleft()
            k = m.owner
            strings, modules, static_invoke = [], set(), False
            for op, idx in m.refs:
                if op == "invokedynamic":
                    bi = re.match(r"#(\d+):", k.cp.get(idx, ("", "", ""))[1])
                    for h in k.bootstraps.get(int(bi.group(1)), []) if bi else []:
                        if k.cp.get(h, ("",))[0] == "MethodHandle":
                            self.follow(k, h)
                elif op.startswith("invoke"):
                    self.follow(k, idx)
                    ref = member_ref(k, idx)
                    static_invoke |= bool(ref) and ref[0].startswith(STATIC_INVOKE)
                elif op in ("getstatic", "putstatic"):
                    ref = member_ref(k, idx)
                    if ref:
                        self.mark(ref[0], "<clinit>", "()V")
                        if ref[1] == "MODULE$" and ref[0] in self.classes:
                            modules.add(ref[0])
                elif op in ("ldc", "ldc_w"):
                    s = string_of(k, idx)
                    if s is not None:
                        strings.append(s)
                        if s in self.by_string:
                            self.mark_named(self.by_string[s], "<init>")
            for owner in modules if static_invoke else ():
                for s in strings:
                    self.mark_named(owner, s)


def reportable(c, meth, classes):
    """A public def someone wrote: not a synthetic, bridge, static
    forwarder or case-class member the compiler generated."""
    if not meth.access & ACC_PUBLIC or meth.access & (ACC_BRIDGE | ACC_SYNTHETIC):
        return False
    if SYNTHETIC_NAME.search(meth.name) or meth.name == "<init>":
        return False
    if (meth.access & ACC_STATIC) and c.name + "$" in classes:
        return False
    if ("productArity", "()I") in c.methods and meth.name in CASE_CLASS_METHODS:
        return False
    companion = classes.get(c.name[:-1]) if c.name.endswith("$") else None
    return not (companion is not None and meth.name in COMPANION_METHODS
                and ("productArity", "()I") in companion.methods)


def pretty(cls):
    return cls.replace("/", ".").rstrip("$")


def unreached_defs(g):
    """name -> [(class, method name)] for every unreached public def; a
    class none of whose members is reached is one entry of its own."""
    out = defaultdict(list)

    def dead(c):
        return c is not None and not any(
            (c.name, n, d) in g.reached for (n, d) in c.methods if n != "<clinit>")

    def has_ctor(c):
        return any(n == "<init>" for (n, _) in c.methods)

    for c in g.classes.values():
        if c.origin != "main" or "$typecreator" in c.name \
                or re.search(r"\$(\d|anon)", c.name):
            continue
        if not c.is_module and not has_ctor(c) and c.name + "$" in g.classes:
            continue              # static forwarders of an object
        companion = g.classes.get(c.name[:-1] if c.is_module else c.name + "$")
        if companion is not None and c.is_module and not has_ctor(companion):
            companion = None      # forwarders, not a companion class
        if dead(c) and (companion is None or dead(companion)):
            if c.is_module and companion is not None:
                continue          # reported with its class
            if c.is_module or c.access & ACC_PUBLIC:
                out[pretty(c.name)] = [(x.name, None) for x in (c, companion)
                                       if x is not None]
            continue
        for (n, d), meth in c.methods.items():
            if (c.name, n, d) not in g.reached and reportable(c, meth, g.classes):
                out[pretty(c.name) + "." + n].append((c.name, n))
    return out


def load():
    for d in (MAIN_CLASSES, BENCH_CLASSES):
        if not os.path.isdir(d):
            sys.exit(f"reach: {os.path.relpath(d, ROOT)} is missing; run "
                     "`sbt Test/compile` and `(cd bench && sbt compile)` first")
    classes = {}
    for origin, d in (("main", MAIN_CLASSES), ("bench", BENCH_CLASSES)):
        files = sorted(os.path.join(dp, f) for dp, _, fs in os.walk(d)
                       for f in fs if f.endswith(".class"))
        for i in range(0, len(files), 200):
            out = subprocess.run(["javap", "-c", "-p", "-v"] + files[i:i + 200],
                                 check=True, capture_output=True, text=True).stdout
            parse(out, origin, classes)
    return classes


def read_allowlist():
    allow = []
    with open(ALLOW) as f:
        for ln, line in enumerate(f, 1):
            pat, _, reason = line.partition("#")
            if pat.strip():
                allow.append((pat.strip(), reason.strip(), ln))
    return allow


def main():
    classes = load()
    g = Graph(classes)
    for c in classes.values():
        if c.origin == "bench" or c.name in ROOT_OBJECTS \
                or c.name + "$" in ROOT_OBJECTS:
            for (n, d) in c.methods:
                g.mark(c.name, n, d)
        elif ("main", MAIN_DESC) in c.methods:
            g.mark(c.name, "main", MAIN_DESC)
    g.run()

    # Allowlisted defs stay, so what they call is reached too.
    allow = read_allowlist()
    first = unreached_defs(g)
    used = set()
    for name, members in first.items():
        for pat, _, ln in allow:
            if fnmatch.fnmatchcase(name, pat):
                used.add(ln)
                for cls, n in members:
                    if n is None:
                        for (mn, md) in list(classes[cls].methods):
                            g.mark(cls, mn, md)
                    else:
                        g.mark_named(cls, n)
    g.run()

    failed = False
    for name in sorted(first):
        if any(fnmatch.fnmatchcase(name, pat) for pat, _, _ in allow):
            print("  allowed  " + name)
    for name in sorted(unreached_defs(g)):
        if not any(fnmatch.fnmatchcase(name, pat) for pat, _, _ in allow):
            print("UNREACHED  " + name)
            failed = True
    for pat, reason, ln in allow:
        if not reason:
            print(f"reach_allow.txt:{ln}: `{pat}` gives no reason")
            failed = True
        if ln not in used:
            print(f"reach_allow.txt:{ln}: `{pat}` matches no unreached def")
            failed = True
    print(f"reach: {len(g.reached)} methods reached; {len(first)} public defs "
          f"unreached from the roots, {len(used)} allowlist entries used")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
