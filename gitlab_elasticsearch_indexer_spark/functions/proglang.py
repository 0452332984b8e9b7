"""Programming-language detection by filename — the enry analog for the
reference's blob Language field (indexer/blob.go:116-127: enry.GetLanguage
(filename, data), default "Text"; goldens indexer/blob_test.go:71-84:
"Makefile.am" → "Makefile", "foo.rb" → "Ruby").

enry's full detector chains modeline → filename → shebang → extension →
content classifier.  Every stage but the last is exactly expressible as ONE
pure-JVM CASE expression (zero Python, folds into whole-stage codegen); the
trailing content stage — enry's token naive-Bayes (classifier.go) — is a
hand-rolled weighted-keyword Bayes analog over ~20 languages' published
keyword sets (``classify_content``), run as an Arrow pandas UDF ONLY on the
rows every JVM stage left unresolved (extensionless, shebang-less,
modeline-less), null-gated JVM-side so resolved rows ship nothing across
Arrow.  `defaultLanguage` ("Text") remains the final fallback, as in the
reference.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

DEFAULT_LANGUAGE = "Text"  # blob.go:22 defaultLanguage

# special FILENAMES (enry's matchers by exact name / prefix) — checked
# before the extension map, like enry's strategy order
_FILENAMES: dict[str, str] = {
    "makefile": "Makefile",
    "gnumakefile": "Makefile",
    "dockerfile": "Dockerfile",
    "rakefile": "Ruby",
    "gemfile": "Ruby",
    "guardfile": "Ruby",
    "podfile": "Ruby",
    "vagrantfile": "Ruby",
    "brewfile": "Ruby",
    "cmakelists.txt": "CMake",
    "build.gradle": "Gradle",
    "settings.gradle": "Gradle",
    "gruntfile.js": "JavaScript",
    "gulpfile.js": "JavaScript",
    ".gitignore": "Ignore List",
    ".gitattributes": "Git Attributes",
    ".editorconfig": "EditorConfig",
    ".babelrc": "JSON",
    ".eslintrc": "JSON",
}

# extension → language (lowercased, last dot segment)
_EXTENSIONS: dict[str, str] = {
    "rb": "Ruby", "py": "Python", "go": "Go", "js": "JavaScript",
    "mjs": "JavaScript", "cjs": "JavaScript", "jsx": "JSX",
    "ts": "TypeScript", "tsx": "TSX", "java": "Java", "c": "C", "h": "C",
    "cpp": "C++", "cc": "C++", "cxx": "C++", "hpp": "C++", "hh": "C++",
    "cs": "C#", "php": "PHP", "rs": "Rust", "kt": "Kotlin",
    "kts": "Kotlin", "swift": "Swift", "m": "Objective-C",
    "mm": "Objective-C++", "scala": "Scala", "sc": "Scala",
    "sh": "Shell", "bash": "Shell", "zsh": "Shell", "fish": "fish",
    "ps1": "PowerShell", "bat": "Batchfile", "cmd": "Batchfile",
    "pl": "Perl", "pm": "Perl", "r": "R", "lua": "Lua", "hs": "Haskell",
    "erl": "Erlang", "hrl": "Erlang", "ex": "Elixir", "exs": "Elixir",
    "clj": "Clojure", "cljs": "ClojureScript", "groovy": "Groovy",
    "dart": "Dart", "jl": "Julia", "nim": "Nim", "zig": "Zig",
    "ml": "OCaml", "mli": "OCaml", "fs": "F#", "fsx": "F#",
    "vb": "Visual Basic .NET", "pas": "Pascal", "d": "D", "ada": "Ada",
    "f": "Fortran", "f90": "Fortran", "cob": "COBOL", "asm": "Assembly",
    "s": "Assembly", "sql": "SQL", "html": "HTML", "htm": "HTML",
    "xhtml": "HTML", "css": "CSS", "scss": "SCSS", "sass": "Sass",
    "less": "Less", "xml": "XML", "xsl": "XSLT", "json": "JSON",
    "jsonl": "JSON", "yml": "YAML", "yaml": "YAML", "toml": "TOML",
    "ini": "INI", "cfg": "INI", "md": "Markdown", "markdown": "Markdown",
    "rst": "reStructuredText", "tex": "TeX", "txt": "Text", "text": "Text",
    "csv": "CSV", "tsv": "TSV", "proto": "Protocol Buffer",
    "graphql": "GraphQL", "vue": "Vue", "svelte": "Svelte",
    "ipynb": "Jupyter Notebook", "gradle": "Gradle", "cmake": "CMake",
    "mk": "Makefile", "am": "Makefile", "tf": "HCL", "hcl": "HCL",
    "nix": "Nix", "vim": "Vim Script", "el": "Emacs Lisp",
    "lisp": "Common Lisp", "scm": "Scheme", "rkt": "Racket",
    "sol": "Solidity", "v": "Verilog", "vhd": "VHDL", "tcl": "Tcl",
    "awk": "Awk", "sed": "sed", "diff": "Diff", "patch": "Diff",
    "svg": "SVG", "tmpl": "Smarty", "j2": "Jinja", "jinja": "Jinja",
    "erb": "HTML+ERB", "haml": "Haml", "slim": "Slim", "pug": "Pug",
    "coffee": "CoffeeScript", "elm": "Elm", "purs": "PureScript",
    "res": "ReScript", "wat": "WebAssembly", "wasm": "WebAssembly",
    "cu": "Cuda", "cl": "OpenCL", "glsl": "GLSL", "hlsl": "HLSL",
    "gd": "GDScript", "feature": "Gherkin", "bib": "BibTeX",
    "org": "Org", "adoc": "AsciiDoc", "pod": "Pod", "rdoc": "RDoc",
    "textile": "Textile", "creole": "Creole", "wiki": "MediaWiki",
}


# shebang interpreter → language (enry data.InterpretersByLanguage analog —
# the common published interpreter names; trailing versions are stripped
# before lookup, so python2.7/python3 both land on "python")
_INTERPRETERS: dict[str, str] = {
    "python": "Python", "ruby": "Ruby", "node": "JavaScript",
    "nodejs": "JavaScript", "deno": "TypeScript", "sh": "Shell",
    "bash": "Shell", "dash": "Shell", "zsh": "Shell", "ksh": "Shell",
    "ash": "Shell", "perl": "Perl", "php": "PHP", "lua": "Lua",
    "rscript": "R", "tclsh": "Tcl", "wish": "Tcl", "awk": "Awk",
    "gawk": "Awk", "mawk": "Awk", "nawk": "Awk", "fish": "fish",
    "pwsh": "PowerShell", "elixir": "Elixir", "escript": "Erlang",
    "groovy": "Groovy", "runghc": "Haskell", "runhaskell": "Haskell",
    "julia": "Julia", "racket": "Racket", "guile": "Scheme",
    "expect": "Expect", "sed": "sed",
}

# Emacs -*- mode -*- / Vim ft= names → language (linguist modeline analog)
_MODELINE_MODES: dict[str, str] = {
    "python": "Python", "ruby": "Ruby", "sh": "Shell", "shell": "Shell",
    "shell-script": "Shell", "bash": "Shell", "javascript": "JavaScript",
    "js": "JavaScript", "typescript": "TypeScript", "c": "C", "cpp": "C++",
    "c++": "C++", "go": "Go", "perl": "Perl", "rust": "Rust",
    "java": "Java", "lua": "Lua", "yaml": "YAML", "json": "JSON",
    "xml": "XML", "html": "HTML", "css": "CSS", "sql": "SQL",
    "makefile": "Makefile", "make": "Makefile", "dockerfile": "Dockerfile",
    "markdown": "Markdown", "tcl": "Tcl", "scheme": "Scheme",
    "lisp": "Common Lisp", "elisp": "Emacs Lisp", "emacs-lisp": "Emacs Lisp",
    "org": "Org", "rst": "reStructuredText", "conf": "INI", "toml": "TOML",
}


def _case_over(col: Column, mapping: dict[str, str]) -> Column:
    """NULL-defaulted lookup in a literal map — one codegen'd expression, no
    UDF.  A chained CASE here would repeat the (possibly large) key
    expression once per mapping entry; with ~120 extensions plus the
    modeline/shebang regexps that blew past janino's 64 KB generated-method
    limit and dropped the whole projection to interpreted mode.
    ``try_element_at(map<k,v>, key)`` evaluates the key expression ONCE and
    returns NULL for misses under any ANSI setting — same semantics, O(1)
    tree growth per entry."""
    pairs: list[Column] = []
    for k, lang in mapping.items():
        pairs.append(F.lit(k))
        pairs.append(F.lit(lang))
    return F.try_element_at(F.create_map(*pairs), col)


def _filename_lang(lower: Column) -> Column:
    """enry's exact/prefix filename matchers (nullable)."""
    expr = _case_over(lower, _FILENAMES)
    # enry's Makefile filename matcher is a prefix match: Makefile.am,
    # Makefile.in, makefile.unix all land on Makefile
    expr = F.when(lower.startswith("makefile"), F.lit("Makefile")).otherwise(expr)
    expr = F.when(lower.startswith("dockerfile"), F.lit("Dockerfile")).otherwise(expr)
    return expr


def _extension_lang(lower: Column) -> Column:
    """Lowercased final-extension map (nullable).  Filenames without a dot
    yield themselves as 'extension'; collisions with real extensions are
    resolved by the filename stage running first."""
    ext = F.element_at(F.split(lower, r"\."), -1)
    return _case_over(ext, _EXTENSIONS)


def prog_language_col(file_name: Column) -> Column:
    """file_name → programming-language name, pure JVM.

    Strategy order mirrors enry: exact/prefix filename matchers first
    ("Makefile.am" → Makefile because the NAME starts with "Makefile",
    blob_test.go:71-77), then the lowercased final extension, then "Text".
    One chained CASE expression — constant-folds into codegen; no UDF.
    """
    lower = F.lower(file_name)
    return F.coalesce(
        _filename_lang(lower), _extension_lang(lower), F.lit(DEFAULT_LANGUAGE)
    )


# ---------------------------------------------------------------------------
# Content classifier — enry's trailing naive-Bayes stage (classifier.go),
# hand-rolled: weighted keyword evidence per language over word tokens plus
# a few distinctive multi-char markers.  Weights are log-odds-flavored
# integers: 3 = essentially unique to the language, 2 = strongly
# indicative, 1 = shared but supporting.  All keyword sets are public
# language syntax.
# ---------------------------------------------------------------------------
_KEYWORD_WEIGHTS: dict[str, dict[str, int]] = {
    "Python": {"elif": 3, "def": 2, "self": 2, "import": 1, "lambda": 2,
               "None": 3, "True": 1, "False": 1, "print": 1, "__init__": 3,
               "pass": 2, "yield": 2, "except": 3},
    "Ruby": {"puts": 3, "def": 2, "end": 2, "module": 1, "require": 2,
             "nil": 3, "attr_accessor": 3, "elsif": 3, "unless": 2},
    "JavaScript": {"function": 2, "const": 2, "var": 2, "let": 2,
                   "console": 3, "typeof": 2, "undefined": 3, "null": 1},
    "Go": {"func": 3, "package": 2, "fmt": 3, "defer": 3, "goroutine": 3,
           "chan": 3, "nil": 1, "struct": 1, "interface": 1},
    "C": {"printf": 3, "sizeof": 2, "malloc": 3, "void": 2, "char": 2,
          "struct": 1, "include": 2, "stdio": 3},
    "C++": {"std": 3, "cout": 3, "namespace": 3, "template": 2,
            "nullptr": 3, "virtual": 2, "include": 2, "iostream": 3},
    "Java": {"public": 2, "static": 2, "void": 1, "class": 1, "System": 3,
             "extends": 2, "implements": 3, "final": 1, "println": 2},
    "Shell": {"echo": 2, "fi": 3, "esac": 3, "done": 2, "then": 2,
              "local": 1, "export": 2, "grep": 2, "getopts": 3},
    "Perl": {"my": 3, "use": 1, "strict": 2, "sub": 2, "qw": 3,
             "foreach": 2, "warnings": 2},
    "PHP": {"php": 3, "echo": 1, "foreach": 1, "array": 2, "public": 1,
            "function": 1},
    "Rust": {"fn": 3, "mut": 3, "impl": 3, "pub": 2, "println": 2,
             "match": 1, "trait": 3, "crate": 3},
    "Lua": {"local": 2, "function": 1, "end": 2, "nil": 1, "elseif": 2,
            "ipairs": 3, "pairs": 2, "repeat": 2},
    "R": {"library": 3, "NULL": 2, "NA": 2, "TRUE": 1, "FALSE": 1,
          "vector": 1, "data": 1, "frame": 1},
    "SQL": {"SELECT": 3, "FROM": 2, "WHERE": 2, "INSERT": 2, "TABLE": 2,
            "JOIN": 2, "GROUP": 1, "ORDER": 1},
    "Haskell": {"where": 2, "data": 1, "instance": 3, "deriving": 3,
                "monad": 3, "import": 1, "qualified": 3},
    "Tcl": {"proc": 3, "set": 1, "expr": 2, "incr": 3, "upvar": 3},
}

# distinctive multi-char markers the word tokenizer can't see
_MARKER_WEIGHTS: list[tuple[re.Pattern, str, int]] = [
    (re.compile(r"<\?php"), "PHP", 6),
    (re.compile(r"<\?xml"), "XML", 6),
    (re.compile(r"<!DOCTYPE\s+html|<html[\s>]", re.IGNORECASE), "HTML", 6),
    (re.compile(r"#include\s*<"), "C", 3),
    (re.compile(r"std::"), "C++", 4),
    (re.compile(r":="), "Go", 2),
    (re.compile(r"<-"), "R", 2),
    (re.compile(r"\$[A-Za-z_{]"), "Shell", 1),
    (re.compile(r"->\s*\w+\s*\("), "PHP", 2),
    (re.compile(r"=>"), "JavaScript", 1),
    (re.compile(r"println!"), "Rust", 4),
    (re.compile(r"^\s*\{\s*\"", re.MULTILINE), "JSON", 4),
    (re.compile(r"^#{1,6}\s+\w|^```", re.MULTILINE), "Markdown", 3),
    (re.compile(r"^[A-Za-z0-9_.-]+:\s+\S", re.MULTILINE), "YAML", 1),
]

_WORD_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
_CLASSIFY_MIN_SCORE = 4  # below this, evidence is noise → "Text"
# code-shape gate: programming-language KEYWORDS also occur in English
# prose ("my use of strict words in my sub" scores 8 for Perl), but code
# differs from prose in shape — punctuation (; {} = $ …) and statement
# keywords at line starts (def/end/SELECT/...).  Keyword evidence only
# counts when codechars + line-start-keyword-lines >= 2, which admits
# minimal-punctuation code (`def foo\n  puts 1\nend` = 2 keyword lines;
# one-line SQL with `=` = 1+1) while prose sentences score 0-1.  Only
# strong code characters count: prose uses ( ) % & too ("(in my sub)").
# Multi-char MARKERS (e.g. "<?php", "std::") are code-shaped by
# construction and always count.
_CODE_CHARS = set(";{}=<>$@|\\*[]")
_ALL_KEYWORDS: set[str] = set()
for _kw in _KEYWORD_WEIGHTS.values():
    _ALL_KEYWORDS.update(_kw)
_LINE_START_RE = re.compile(r"^[ \t]*([A-Za-z_][A-Za-z0-9_]*)", re.MULTILINE)


def classify_content(text: str | None) -> str | None:
    """Token-evidence language classification for content no earlier stage
    resolved.  Deterministic: ties break by language name.  Returns None
    (caller falls through to "Text") when total evidence is weak or the
    content has no code shape (prose guard)."""
    if not text:
        return None
    head = text[:2048]
    scores: dict[str, int] = {}
    code_chars = sum(c in _CODE_CHARS for c in head)
    kw_lines = sum(1 for m in _LINE_START_RE.finditer(head) if m.group(1) in _ALL_KEYWORDS)
    if code_chars + kw_lines >= 2:
        for tok in _WORD_RE.findall(head):
            for lang, kw in _KEYWORD_WEIGHTS.items():
                w = kw.get(tok)
                if w:
                    scores[lang] = scores.get(lang, 0) + w
    for pat, lang, w in _MARKER_WEIGHTS:
        n = len(pat.findall(head))
        if n:
            scores[lang] = scores.get(lang, 0) + w * min(n, 3)
    if not scores:
        return None
    best_lang, best = min(
        ((lang, s) for lang, s in scores.items()),
        key=lambda kv: (-kv[1], kv[0]),
    )
    return best_lang if best >= _CLASSIFY_MIN_SCORE else None


def prog_language_content_col(
    file_name: Column, content: Column, with_classifier: bool = True
) -> Column:
    """enry's content-aware detection (indexer/blob.go:116-127:
    enry.GetLanguage(filename, data)).

    Strategy order is linguist/enry's: modeline → filename → shebang →
    extension → content classifier → "Text".  An extensionless ``deploy``
    script starting ``#!/usr/bin/env python3`` classifies as Python via the
    shebang stage; an extensionless, shebang-less one is classified by
    keyword evidence (``classify_content``, the enry classifier.go analog).
    Every stage but the classifier is pure JVM; the classifier is an Arrow
    pandas UDF that receives ONLY the rows all JVM stages left NULL
    (null-gated ``when`` input), so on corpora where names/shebangs resolve
    everything, no row crosses Arrow at all.
    """
    lower = F.lower(file_name)
    head = F.substring(content, 1, 512)

    # --- shebang: '#!/path/interp [arg]', env-aware, version-stripped ----
    sheb = F.regexp_extract(head, r"^#!([^\n]*)", 1)
    tok0 = F.regexp_extract(sheb, r"^[ \t]*(\S+)", 1)
    tok1 = F.regexp_extract(sheb, r"^[ \t]*\S+[ \t]+(\S+)", 1)
    base0 = F.element_at(F.split(tok0, "/"), -1)
    interp = F.when(base0 == "env", F.element_at(F.split(tok1, "/"), -1)).otherwise(
        base0
    )
    interp = F.lower(F.regexp_replace(interp, r"[0-9.]+$", ""))
    shebang_lang = _case_over(interp, _INTERPRETERS)

    # --- modelines: Emacs '-*- mode: x -*-' / '-*- x -*-', Vim 'ft=x' -----
    emacs = F.lower(
        F.regexp_extract(head, r"-\*-[ \t]*(?:[Mm]ode:[ \t]*)?([A-Za-z0-9+#_-]+)[ \t]*(?:;[^\n]*)?-\*-", 1)
    )
    vim = F.lower(
        F.regexp_extract(
            head, r"[Vv]im?:[ \t]*(?:set[ \t]+)?[^\n]*?(?:ft|filetype)=([A-Za-z0-9_]+)", 1
        )
    )
    modeline_lang = F.coalesce(
        _case_over(emacs, _MODELINE_MODES), _case_over(vim, _MODELINE_MODES)
    )

    jvm_stages = F.coalesce(
        modeline_lang,
        _filename_lang(lower),
        shebang_lang,
        _extension_lang(lower),
    )
    if not with_classifier:
        return F.coalesce(jvm_stages, F.lit(DEFAULT_LANGUAGE))
    from .udfs import classify_prog_lang_udf

    gated = classify_prog_lang_udf(
        F.when(jvm_stages.isNull(), F.substring(content, 1, 2048))
    )
    return F.coalesce(jvm_stages, gated, F.lit(DEFAULT_LANGUAGE))
