"""HOCON-subset parser so the reference's ``.conf`` files load directly.

Reference configs (``sdl-core/src/test/resources/**/*.conf`` and every SDL
deployment) are HOCON (typesafe-config). ``load_config`` already consumes
plain dicts; this module parses the HOCON features those configs actually
use into such a dict:

* ``key = value`` / ``key : value`` / ``key { ... }`` (object without =)
* nested objects ``{}``, arrays ``[]``, newline OR comma separators
* path-expression keys (``a.b.c = v``)
* ``#`` and ``//`` comments
* quoted, triple-quoted and unquoted strings (unquoted keep inner spaces,
  terminate at newline/``,}]#``)
* numbers, booleans, null
* duplicate keys: objects deep-merge, later scalars win
* ``${a.b}`` substitutions — passed through as ``${a.b}`` strings for the
  loader's existing resolution (config.py _substitute, incl. ``${env.X}``);
  ``${?a.b}`` optional form maps to the same
* template inheritance ``key = ${templates.x} { overrides }`` — resolved
  here by deep-merging the referenced object under the overrides (the
  reference's configWithTemplates pattern)
* ``include "file.conf"`` relative to the including file

Deliberately out of scope (raise or degrade loudly, never silently):
``+=`` self-referential appends and time/size unit coercion.
"""

from __future__ import annotations

import os
import re
from typing import Any

from smart_data_lake_spark.config import ConfigError

_UNQUOTED_END = set("\n,}]#")
_KEY_END = set("=:{\n")


class _Parser:
    def __init__(
        self, text: str, base_dir: str = ".", visited: frozenset[str] = frozenset()
    ) -> None:
        self.t = text
        self.i = 0
        self.n = len(text)
        self.base_dir = base_dir
        # absolute paths already on the include stack — cycle detection
        self.visited = visited

    # ------------------------------------------------------------ low level
    def _peek(self) -> str:
        return self.t[self.i] if self.i < self.n else ""

    def _skip_inline_ws(self) -> None:
        while self.i < self.n and self.t[self.i] in " \t\r":
            self.i += 1

    def _skip_ws_comments(self, include_newlines: bool = True) -> None:
        while self.i < self.n:
            c = self.t[self.i]
            if c in " \t\r" or (include_newlines and c in "\n,"):
                self.i += 1
            elif c == "#" or self.t.startswith("//", self.i):
                while self.i < self.n and self.t[self.i] != "\n":
                    self.i += 1
            else:
                return

    def _error(self, msg: str) -> ConfigError:
        line = self.t.count("\n", 0, self.i) + 1
        return ConfigError(f"HOCON parse error at line {line}: {msg}")

    # ---------------------------------------------------------------- keys
    def _parse_key(self) -> list[str]:
        self._skip_ws_comments()
        if self._peek() == '"':
            return [self._parse_quoted()]
        start = self.i
        while self.i < self.n and self.t[self.i] not in _KEY_END and self.t[self.i] not in " \t\r":
            self.i += 1
        raw = self.t[start : self.i].strip()
        if not raw:
            raise self._error("expected a key")
        return raw.split(".")

    def _parse_quoted(self) -> str:
        if self.t.startswith('"""', self.i):
            end = self.t.find('"""', self.i + 3)
            if end < 0:
                raise self._error("unterminated triple-quoted string")
            s = self.t[self.i + 3 : end]
            self.i = end + 3
            return s
        assert self.t[self.i] == '"'
        self.i += 1
        out = []
        while self.i < self.n:
            c = self.t[self.i]
            if c == "\\" and self.i + 1 < self.n:
                nxt = self.t[self.i + 1]
                if nxt == "u" and self.i + 6 <= self.n:
                    # JSON/HOCON \uXXXX unicode escape, incl. surrogate pairs
                    try:
                        cp = int(self.t[self.i + 2 : self.i + 6], 16)
                        self.i += 6
                        if 0xD800 <= cp <= 0xDBFF and self.t.startswith("\\u", self.i):
                            low = int(self.t[self.i + 2 : self.i + 6], 16)
                            if 0xDC00 <= low <= 0xDFFF:
                                cp = 0x10000 + ((cp - 0xD800) << 10) + (low - 0xDC00)
                                self.i += 6
                        out.append(chr(cp))
                        continue
                    except ValueError:
                        pass
                out.append({"n": "\n", "t": "\t", '"': '"', "\\": "\\", "r": "\r", "/": "/", "b": "\b", "f": "\f"}.get(nxt, nxt))
                self.i += 2
            elif c == '"':
                self.i += 1
                return "".join(out)
            else:
                out.append(c)
                self.i += 1
        raise self._error("unterminated string")

    # --------------------------------------------------------------- values
    def _parse_value_parts(self) -> list[Any]:
        """Collect concatenated value parts until end-of-element. Each entry
        is (preceded_by_whitespace, part) so string concatenation can
        reproduce HOCON's adjacency rule (${a}/x joins WITHOUT a space)."""
        parts: list[Any] = []
        while True:
            before = self.i
            self._skip_inline_ws()
            had_ws = self.i > before
            c = self._peek()
            if c == "" or c in _UNQUOTED_END or self.t.startswith("//", self.i):
                return parts
            if c == "{":
                parts.append((had_ws, self._parse_object(braced=True)))
            elif c == "[":
                parts.append((had_ws, self._parse_array()))
            elif c == '"':
                parts.append((had_ws, ("str", self._parse_quoted())))
            elif self.t.startswith("${", self.i):
                end = self.t.find("}", self.i)
                if end < 0:
                    raise self._error("unterminated ${...} substitution")
                path = self.t[self.i + 2 : end]
                self.i = end + 1
                parts.append((had_ws, ("subst", path.lstrip("?"))))
            else:
                start = self.i
                while (
                    self.i < self.n
                    and self.t[self.i] not in _UNQUOTED_END
                    and not self.t.startswith("//", self.i)
                    and not self.t.startswith("${", self.i)
                ):
                    self.i += 1
                raw = self.t[start : self.i].rstrip()
                if raw.endswith("+="):
                    raise self._error("'+=' appends are not supported by this subset")
                if raw:
                    parts.append((had_ws, ("raw", raw)))

    @staticmethod
    def _coerce(raw: str) -> Any:
        low = raw.lower()
        if low == "true":
            return True
        if low == "false":
            return False
        if low in ("null", "none"):
            return None
        if re.fullmatch(r"[+-]?\d+", raw):
            return int(raw)
        if re.fullmatch(r"[+-]?(\d+\.\d*|\.\d+|\d+)([eE][+-]?\d+)?", raw) and any(
            ch in raw for ch in ".eE"
        ):
            return float(raw)
        return raw

    def _combine(self, tagged: list[Any]) -> Any:
        if not tagged:
            return ""
        parts = [p for _ws, p in tagged]
        if len(parts) == 1:
            p = parts[0]
            if isinstance(p, tuple):
                kind, v = p
                if kind == "subst":
                    return "${" + v + "}"
                if kind == "raw":
                    return self._coerce(v)
                return v
            return p
        # template inheritance: ${path} { overrides } [+ more objects]
        if isinstance(parts[0], tuple) and parts[0][0] == "subst" and all(
            isinstance(p, dict) for p in parts[1:]
        ):
            merged: dict[str, Any] = {"__extends__": parts[0][1]}
            for p in parts[1:]:
                _deep_merge(merged, p)
            return merged
        # plain object concatenation
        if all(isinstance(p, dict) for p in parts):
            out: dict[str, Any] = {}
            for p in parts:
                _deep_merge(out, p)
            return out
        # string concatenation: adjacency preserved (${a}/x has no space,
        # `a b` keeps one)
        rendered = []
        for idx, (ws, p) in enumerate(tagged):
            if idx > 0 and ws:
                rendered.append(" ")
            if isinstance(p, tuple):
                kind, v = p
                rendered.append("${" + v + "}" if kind == "subst" else str(v))
            else:
                rendered.append(str(p))
        return "".join(rendered)

    def _parse_array(self) -> list[Any]:
        assert self._peek() == "["
        self.i += 1
        out: list[Any] = []
        while True:
            self._skip_ws_comments()
            if self._peek() == "":
                raise self._error("unterminated array")
            if self._peek() == "]":
                self.i += 1
                return out
            parts = self._parse_value_parts()
            if parts:
                out.append(self._combine(parts))
            else:
                # lone separator char we don't consume in value parts
                if self._peek() == "]":
                    continue
                raise self._error(f"unexpected {self._peek()!r} in array")

    # -------------------------------------------------------------- objects
    def _parse_root(self) -> dict[str, Any]:
        """The root is a braced object or a field list without braces."""
        self._skip_ws_comments()
        if self._peek() != "{":
            return self._parse_object(braced=False)
        root = self._parse_object(braced=True)
        self._skip_ws_comments()
        if self._peek():
            raise self._error(f"unexpected {self._peek()!r} after the root object")
        return root

    def _parse_object(self, braced: bool) -> dict[str, Any]:
        if braced:
            assert self._peek() == "{"
            self.i += 1
        obj: dict[str, Any] = {}
        while True:
            self._skip_ws_comments()
            c = self._peek()
            if c == "":
                if braced:
                    raise self._error("unterminated object")
                return obj
            if c == "}":
                if not braced:
                    raise self._error("unexpected '}'")
                self.i += 1
                return obj
            # include directive — only when followed by a quoted filename
            # ('include = 1' is an ordinary field named include)
            if self.t.startswith("include", self.i):
                j = self.i + 7
                while j < self.n and self.t[j] in " \t":
                    j += 1
                is_directive = j < self.n and self.t[j] == '"'
            else:
                is_directive = False
            if is_directive:
                self.i += 7
                self._skip_inline_ws()
                fname = self._parse_quoted()
                inc_path = os.path.join(self.base_dir, fname)
                _deep_merge(obj, parse_file(inc_path, _visited=self.visited))
                continue
            key_path = self._parse_key()
            self._skip_inline_ws()
            c = self._peek()
            if c == "{":
                value: Any = self._parse_object(braced=True)
            elif self.t.startswith("+=", self.i):
                raise self._error("'+=' appends are not supported by this subset")
            elif c in "=:":
                self.i += 1
                self._skip_inline_ws()
                value = self._combine(self._parse_value_parts())
            else:
                raise self._error(f"expected '=' ':' or '{{' after key {'.'.join(key_path)!r}")
            _assign_path(obj, key_path, value)


def _assign_path(obj: dict, path: list[str], value: Any) -> None:
    node = obj
    for part in path[:-1]:
        nxt = node.get(part)
        if not isinstance(nxt, dict):
            nxt = {}
            node[part] = nxt
        node = nxt
    existing = node.get(path[-1])
    if isinstance(existing, dict) and isinstance(value, dict):
        _deep_merge(existing, value)
    else:
        node[path[-1]] = value


def _deep_merge(dst: dict, src: dict) -> dict:
    for k, v in src.items():
        if isinstance(dst.get(k), dict) and isinstance(v, dict):
            _deep_merge(dst[k], v)
        else:
            dst[k] = v
    return dst


def _lookup(root: dict, path: str) -> Any:
    node: Any = root
    for part in path.split("."):
        if not isinstance(node, dict) or part not in node:
            raise ConfigError(f"HOCON template reference ${{{path}}}: path not found")
        node = node[part]
    return node


def _resolve_extends(node: Any, root: dict, lenient: bool = False) -> Any:
    """Deep-merge ``${template} {overrides}`` results (overrides win).
    ``lenient`` leaves unresolvable references intact — needed while single
    files of a multi-file config are parsed before the merge supplies the
    template definitions."""
    if isinstance(node, dict):
        if "__extends__" in node:
            try:
                template = _lookup(root, node["__extends__"])
            except ConfigError:
                if lenient:
                    return {
                        k: (_resolve_extends(v, root, lenient) if k != "__extends__" else v)
                        for k, v in node.items()
                    }
                raise
            template = _resolve_extends(template, root, lenient)
            if not isinstance(template, dict):
                raise ConfigError(
                    f"HOCON template ${{{node['__extends__']}}} is not an object"
                )
            import copy

            merged = copy.deepcopy(template)
            overrides = {k: v for k, v in node.items() if k != "__extends__"}
            _deep_merge(merged, _resolve_extends(overrides, root, lenient))
            return merged
        return {k: _resolve_extends(v, root, lenient) for k, v in node.items()}
    if isinstance(node, list):
        return [_resolve_extends(v, root, lenient) for v in node]
    return node


def resolve_templates(root: dict) -> dict:
    """Strictly resolve every ``__extends__`` reference against the merged
    root — the multi-file entry point (templates may live in sibling files)."""
    return _resolve_extends(root, root, lenient=False)


def parse_hocon(
    text: str, base_dir: str = ".", _visited: frozenset[str] = frozenset()
) -> dict[str, Any]:
    """Parse HOCON text → plain dict (``${a.b}`` substitutions left as
    strings for config.py's resolver; template inheritance resolved)."""
    root = _Parser(text, base_dir, visited=_visited)._parse_root()
    return _resolve_extends(root, root, lenient=True)


def parse_file(path: str, _visited: frozenset[str] = frozenset()) -> dict[str, Any]:
    abspath = os.path.abspath(path)
    if abspath in _visited:
        cycle = " -> ".join(sorted(_visited) + [abspath])
        raise ConfigError(f"HOCON include cycle detected: {cycle}")
    with open(path, "r", encoding="utf-8") as fh:
        return parse_hocon(
            fh.read(),
            base_dir=os.path.dirname(abspath),
            _visited=_visited | {abspath},
        )


def get_config_value(config, path: list[str]):
    """Navigate a parsed config by key path; `[N]` segments index lists
    (util/misc/HoconUtil.getConfigValue)."""
    cur = config
    for seg in path:
        if seg.startswith("[") and seg.endswith("]"):
            cur = cur[int(seg[1:-1])]
        else:
            cur = cur[seg]
    return cur


def update_config_value(config, path: list[str], value):
    """Return a COPY of the config with the value at `path` set/added —
    `[N]` segments index lists; the original structure is not mutated
    (HoconUtil.updateConfigValue)."""
    import copy

    updated = copy.deepcopy(config)
    cur = updated
    for seg in path[:-1]:
        if seg.startswith("[") and seg.endswith("]"):
            cur = cur[int(seg[1:-1])]
        else:
            cur = cur[seg]
    last = path[-1]
    if last.startswith("[") and last.endswith("]"):
        cur[int(last[1:-1])] = value
    else:
        cur[last] = value
    return updated
