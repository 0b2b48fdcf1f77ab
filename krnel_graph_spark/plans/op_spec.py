"""Content-addressable operation DAG — the logical-plan layer.

This is the Spark-independent kernel of the engine. An :class:`OpSpec` is an
immutable, content-addressed node in a dataflow DAG: fields whose values are
(or contain) other ``OpSpec`` instances are DAG edges; plain scalar fields are
operator parameters. Every node has a deterministic identity
``ClassName_<sha256 of canonical JSON>`` which transitively covers the whole
upstream graph, and doubles as a persistent cache key.

Capability parity with the reference engine's spec layer
(krnel-graph ``src/krnel/graph/op_spec.py:169-299`` — UUID scheme,
``ExcludeFromUUID``, graph (de)serialization with verification at
``op_spec.py:701-827``, and ``subs`` rewriting at ``op_spec.py:404-530``),
re-designed from scratch for this engine: the implementation here is original.
"""

from __future__ import annotations

import hashlib
import json
from typing import Any, Iterable, Iterator, get_args

from pydantic import BaseModel, ConfigDict


class ExcludeFromUUID:
    """Annotation marker: ``Annotated[str, ExcludeFromUUID()]`` fields carry
    execution context (e.g. a local file path) and do not contribute to the
    node's content hash. Parity: reference ``op_spec.py:157-166``."""


class GraphError(ValueError):
    """Raised for malformed graphs (cycles, missing nodes, bad references)."""


class UUIDMismatchError(GraphError):
    """A serialized node's stored UUID does not match its recomputed hash."""


# Global registry of concrete OpSpec subclasses, keyed by class name.
# Used to rehydrate nodes from serialized graphs.
_OP_REGISTRY: dict[str, type["OpSpec"]] = {}


# Per class: the sorted names of the fields that enter its UUID.
_IDENTITY_FIELDS: dict[type["OpSpec"], tuple[str, ...]] = {}


def op_class(name: str) -> type["OpSpec"]:
    try:
        return _OP_REGISTRY[name]
    except KeyError:
        raise GraphError(f"Unknown op type {name!r}; is its module imported?")


class OpSpec(BaseModel):
    """One immutable node in a content-addressed operation DAG."""

    model_config = ConfigDict(frozen=True, extra="forbid")

    @classmethod
    def __pydantic_init_subclass__(cls, **kwargs: Any) -> None:
        super().__pydantic_init_subclass__(**kwargs)
        prior = _OP_REGISTRY.get(cls.__name__)
        if prior is not None and prior is not cls:
            raise GraphError(f"Duplicate OpSpec class name {cls.__name__!r}")
        _OP_REGISTRY[cls.__name__] = cls

    # ------------------------------------------------------------------ #
    # Identity                                                            #
    # ------------------------------------------------------------------ #

    @classmethod
    def _hash_excluded_fields(cls) -> frozenset[str]:
        excluded = set()
        for name, field in cls.model_fields.items():
            if any(
                isinstance(m, ExcludeFromUUID)
                or (isinstance(m, type) and issubclass(m, ExcludeFromUUID))
                for m in field.metadata
            ):
                excluded.add(name)
        return frozenset(excluded)

    @staticmethod
    def _encode_value(value: Any) -> Any:
        """Canonical JSON-able encoding; nested OpSpecs encode as their UUID,
        so a node's hash transitively pins its whole upstream graph."""
        if isinstance(value, OpSpec):
            return value.uuid
        if isinstance(value, (list, tuple)):
            return [OpSpec._encode_value(v) for v in value]
        if isinstance(value, dict):
            return {str(k): OpSpec._encode_value(v) for k, v in value.items()}
        if isinstance(value, (set, frozenset)):
            return sorted(OpSpec._encode_value(v) for v in value)
        if value is None or isinstance(value, (bool, int, float, str)):
            return value
        if isinstance(value, bytes):
            return value.hex()
        raise TypeError(
            f"Field value of type {type(value).__name__} is not hashable into "
            f"an op identity: {value!r}"
        )

    def _identity_payload(self) -> dict[str, Any]:
        cls = type(self)
        names = _IDENTITY_FIELDS.get(cls)
        if names is None:  # once per class: sorted, non-excluded fields
            excluded = cls._hash_excluded_fields()
            names = tuple(n for n in sorted(cls.model_fields) if n not in excluded)
            _IDENTITY_FIELDS[cls] = names
        return {name: self._encode_value(getattr(self, name)) for name in names}

    @property
    def uuid(self) -> str:
        """``ClassName_<sha256 hex>`` — deterministic content address."""
        cached = self.__dict__.get("_uuid_cache")
        if cached is None:
            blob = json.dumps(self._identity_payload(), sort_keys=True)
            digest = hashlib.sha256(blob.encode("utf-8")).hexdigest()
            cached = f"{type(self).__name__}_{digest}"
            object.__setattr__(self, "_uuid_cache", cached)
        return cached

    @property
    def uuid_hash(self) -> str:
        return self.uuid.split("_", 1)[1]

    def __hash__(self) -> int:
        return hash(self.uuid)

    def __eq__(self, other: object) -> bool:
        return isinstance(other, OpSpec) and other.uuid == self.uuid

    # ------------------------------------------------------------------ #
    # Graph structure                                                     #
    # ------------------------------------------------------------------ #

    @property
    def is_ephemeral(self) -> bool:
        return isinstance(self, EphemeralOpMixin)

    def get_dependencies(self, *, recursive: bool = False) -> list["OpSpec"]:
        """Direct (or transitive, deduplicated, dependency-first) inputs."""
        direct: list[OpSpec] = []
        seen: set[str] = set()

        def visit(value: Any) -> None:
            if isinstance(value, OpSpec):
                if value.uuid not in seen:
                    seen.add(value.uuid)
                    direct.append(value)
            elif isinstance(value, (list, tuple, set, frozenset)):
                for v in value:
                    visit(v)
            elif isinstance(value, dict):
                for v in value.values():
                    visit(v)

        for name in type(self).model_fields:
            visit(getattr(self, name))

        if not recursive:
            return direct

        ordered: list[OpSpec] = []
        emitted: set[str] = set()

        def walk(node: OpSpec) -> None:
            for dep in node.get_dependencies():
                if dep.uuid not in emitted:
                    emitted.add(dep.uuid)
                    walk(dep)
                    ordered.append(dep)

        walk(self)
        return ordered

    def iter_graph(self) -> Iterator["OpSpec"]:
        """All nodes reachable from self (dependency-first), self last."""
        yield from self.get_dependencies(recursive=True)
        yield self

    # ------------------------------------------------------------------ #
    # Rewriting                                                           #
    # ------------------------------------------------------------------ #

    def with_fields(self, **changes: Any) -> "OpSpec":
        """A copy of this node with some parameter fields changed (new UUID)."""
        fields = {name: getattr(self, name) for name in type(self).model_fields}
        fields.update(changes)
        return type(self)(**fields)

    def subs(self, *args: "OpSpec | dict[OpSpec, OpSpec]", **field_changes: Any) -> "OpSpec":
        """Graph substitution: replace nodes anywhere upstream and rebuild
        everything downstream of them (the reference's signature rewrite UX,
        ``op_spec.py:404-530``).

        Usage::

            new_root = root.subs(old_node, new_node)
            new_root = root.subs({old1: new1, old2: new2})
            new_node = node.subs(param=value)       # field change on self
        """
        from .transforms import graph_substitute

        mapping: dict[OpSpec, OpSpec] = {}
        if len(args) == 2 and all(isinstance(a, OpSpec) for a in args):
            mapping[args[0]] = args[1]  # type: ignore[index]
        elif len(args) == 1 and isinstance(args[0], dict):
            mapping.update(args[0])
        elif args:
            raise TypeError("subs() takes (old, new), a mapping, or field kwargs")

        root: OpSpec = self
        if field_changes:
            changed = self.with_fields(**field_changes)
            if not mapping:
                return changed
            root = changed
        return graph_substitute([root], mapping)[0]

    # ------------------------------------------------------------------ #
    # Serialization                                                       #
    # ------------------------------------------------------------------ #

    def _node_payload(self) -> dict[str, Any]:
        payload = {"type": type(self).__name__}
        for name in sorted(type(self).model_fields):
            payload[name] = self._encode_value(getattr(self, name))
        return payload

    def to_graph(self) -> dict[str, Any]:
        return serialize_graph([self])

    @classmethod
    def from_graph(cls, data: dict[str, Any]) -> "OpSpec":
        roots = deserialize_graph(data)
        if len(roots) != 1:
            raise GraphError(f"Expected one output node, got {len(roots)}")
        return roots[0]

    # ------------------------------------------------------------------ #
    # Presentation                                                        #
    # ------------------------------------------------------------------ #

    def short_name(self) -> str:
        return f"{type(self).__name__}_{self.uuid_hash[:10]}"

    def to_code(self) -> str:
        """Rough pseudocode rendering of the upstream graph (debugging aid)."""
        lines = []
        names: dict[str, str] = {}
        for i, node in enumerate(self.iter_graph()):
            var = f"v{i}"
            names[node.uuid] = var
            params = []
            for fname in sorted(type(node).model_fields):
                value = getattr(node, fname)
                if isinstance(value, OpSpec):
                    params.append(f"{fname}={names.get(value.uuid, value.short_name())}")
                elif isinstance(value, (list, dict)) and _contains_opspec(value):
                    params.append(f"{fname}=<graph>")
                else:
                    params.append(f"{fname}={value!r}")
            lines.append(f"{var} = {type(node).__name__}({', '.join(params)})")
        return "\n".join(lines)

    def __repr__(self) -> str:  # keep reprs short; graphs can be deep
        return self.short_name()

    def _repr_mimebundle_(self, include=None, exclude=None):
        """Notebook display: mermaid flowchart of the dependency graph
        (parity: reference ``repr_html.py``)."""
        from ..repr_html import graph_mimebundle

        return graph_mimebundle(self)


class EphemeralOpMixin:
    """Marker: results of this op are cheap to recompute and are never
    persisted to the result store. In the Spark engine, ephemeral ops stay
    *lazy* — they lower to unexecuted DataFrame expressions which Catalyst
    fuses into the consuming job (the moral equivalent of the reference's
    recompute-on-demand policy, ``op_spec.py:830-838``)."""


def _contains_opspec(value: Any) -> bool:
    if isinstance(value, OpSpec):
        return True
    if isinstance(value, (list, tuple, set, frozenset)):
        return any(_contains_opspec(v) for v in value)
    if isinstance(value, dict):
        return any(_contains_opspec(v) for v in value.values())
    return False


# ---------------------------------------------------------------------- #
# Graph (de)serialization                                                 #
# ---------------------------------------------------------------------- #


def serialize_graph(outputs: Iterable[OpSpec]) -> dict[str, Any]:
    """``{"outputs": [uuid...], "nodes": {uuid: {"type": ..., fields...}}}``.

    Shared subgraphs serialize once (nodes are keyed by content address).
    Parity: reference ``op_spec.py:701-735``.
    """
    outputs = list(outputs)
    nodes: dict[str, Any] = {}
    for root in outputs:
        for node in root.iter_graph():
            nodes.setdefault(node.uuid, node._node_payload())
    return {"outputs": [o.uuid for o in outputs], "nodes": nodes}


def deserialize_graph(data: dict[str, Any]) -> list[OpSpec]:
    """Rebuild OpSpec objects from :func:`serialize_graph` output.

    Every node's UUID is recomputed and verified against its key
    (:class:`UUIDMismatchError` on drift); cycles and unreachable nodes are
    rejected. Parity: reference ``op_spec.py:769-827``.
    """
    try:
        node_payloads: dict[str, dict] = dict(data["nodes"])
        output_ids: list[str] = list(data["outputs"])
    except (KeyError, TypeError) as exc:
        raise GraphError(f"Malformed graph payload: {exc}") from exc

    built: dict[str, OpSpec] = {}
    in_progress: set[str] = set()

    def build(uid: str) -> OpSpec:
        if uid in built:
            return built[uid]
        if uid in in_progress:
            raise GraphError(f"Cycle detected through node {uid}")
        if uid not in node_payloads:
            raise GraphError(f"Graph references missing node {uid}")
        in_progress.add(uid)
        payload = dict(node_payloads[uid])
        cls = op_class(payload.pop("type"))
        fields = {
            name: _decode_value(value, build)
            if _may_hold_opspec(cls.model_fields[name].annotation)
            else value
            for name, value in payload.items()
            if name in cls.model_fields
        }
        node = cls(**fields)
        if node.uuid != uid:
            raise UUIDMismatchError(
                f"Node hash drift: stored {uid}, recomputed {node.uuid}"
            )
        in_progress.discard(uid)
        built[uid] = node
        return node

    roots = [build(uid) for uid in output_ids]
    reachable: set[str] = set()
    for root in roots:
        for node in root.iter_graph():
            reachable.add(node.uuid)
    unreachable = set(node_payloads) - reachable
    if unreachable:
        raise GraphError(
            f"Graph contains nodes unreachable from outputs: {sorted(unreachable)[:3]}"
        )
    return roots


def _may_hold_opspec(annotation: Any) -> bool:
    """Whether a field annotated ``annotation`` can hold an OpSpec, so
    its UUID-shaped strings are graph edges. Other fields (inline data,
    parameters) keep their strings as they are."""
    if isinstance(annotation, type) and issubclass(annotation, OpSpec):
        return True
    return any(_may_hold_opspec(arg) for arg in get_args(annotation))


def _decode_value(value: Any, build) -> Any:
    if isinstance(value, str) and _looks_like_uuid(value):
        return build(value)
    if isinstance(value, list):
        return [_decode_value(v, build) for v in value]
    if isinstance(value, dict):
        return {k: _decode_value(v, build) for k, v in value.items()}
    return value


def _looks_like_uuid(value: str) -> bool:
    name, _, digest = value.rpartition("_")
    return (
        bool(name)
        and name in _OP_REGISTRY
        and len(digest) == 64
        and all(c in "0123456789abcdef" for c in digest)
    )
