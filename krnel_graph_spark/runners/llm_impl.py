"""LLM operator implementations: provider registry + mapInPandas plumbing.

Provider dispatch mirrors the reference (``model_name = "scheme:name"``,
``runners/model_registry.py:41-75``). Execution is Spark-idiomatic: the text
column streams through ``mapInPandas`` in caller-controlled batches, with a
per-executor-process model cache so weights load once per worker, not once
per batch (reference batching semantics, ``llm_ops.py:31``,
``model_registry_implementations.py:149-234``).

Heavy providers (huggingface, sentence-transformers) are import-gated — this
container has no torch — while the deterministic ``fake:`` provider keeps the
entire distributed code path (schemas, batching, UDF signatures) testable.
"""

from __future__ import annotations

import hashlib
from typing import Iterable, Iterator, Optional

import numpy as np
import pandas as pd

from pyspark.sql import functions as F

from ..operators.llm_ops import (
    LLMGenerateTextOp,
    LLMLayerActivationsOp,
    LLMLogitScoresOp,
)
from .plan import ROW_ID, VALUE, ColumnPlan, json_text
from .spark_runner import SparkRunner

_MODEL_PROVIDERS: dict[str, type] = {}
_PROVIDER_CACHE: dict[str, "ModelProvider"] = {}  # per-process (executor) cache


def register_model_provider(*schemes: str):
    def decorator(cls: type):
        for scheme in schemes:
            if scheme in _MODEL_PROVIDERS:
                raise ValueError(f"Provider scheme {scheme!r} already registered")
            _MODEL_PROVIDERS[scheme] = cls
        return cls

    return decorator


def get_provider(model_name: str) -> "ModelProvider":
    provider = _PROVIDER_CACHE.get(model_name)
    if provider is None:
        scheme, _, name = model_name.partition(":")
        if not name:
            raise ValueError(
                f"model_name must be 'scheme:name', got {model_name!r}"
            )
        try:
            cls = _MODEL_PROVIDERS[scheme]
        except KeyError:
            raise ValueError(
                f"Unknown model provider scheme {scheme!r}; registered: "
                f"{sorted(_MODEL_PROVIDERS)}"
            )
        provider = cls(name)
        _PROVIDER_CACHE[model_name] = provider
    return provider


class ModelProvider:
    """One loaded model; all methods take a list of texts (one batch)."""

    def __init__(self, name: str):
        self.name = name

    def apply_chat_template(
        self, conversation: list[dict], append: Optional[str] = None
    ) -> str:
        """Render a ``[{"role", "content"}, ...]`` conversation to the
        provider's prompt format, with a trailing generation prompt.
        ``append`` is tacked onto the rendered template (the reference's
        ``append_to_chat_template`` knob for logit scoring,
        ``model_registry_implementations.py:291-300``). The default is a
        deterministic ChatML-style rendering; model-backed providers
        override with their tokenizer's own template."""
        parts = [
            f"<|im_start|>{m.get('role', 'user')}\n{m.get('content', '')}<|im_end|>\n"
            for m in conversation
        ]
        out = "".join(parts) + "<|im_start|>assistant\n"
        if append:
            out += append
        return out

    def layer_activations(
        self, texts: list[str], layer_num: int, token_mode: str
    ) -> np.ndarray:
        raise NotImplementedError

    def logit_scores(self, texts: list[str], tokens: list[str]) -> np.ndarray:
        raise NotImplementedError

    def generate(self, texts: list[str], max_tokens: int, temperature: float) -> list[str]:
        raise NotImplementedError


@register_model_provider("fake")
class FakeProvider(ModelProvider):
    """Deterministic hash-seeded pseudo-model: same text → same vector,
    forever, on any executor. Dimension parses from the name
    (``fake:dim16``); defaults to 16."""

    def __init__(self, name: str):
        super().__init__(name)
        self.dim = int(name.removeprefix("dim")) if name.startswith("dim") else 16

    def _vec(self, text: str, salt: str, dim: int) -> np.ndarray:
        digest = hashlib.sha256(f"{salt}:{text}".encode()).digest()
        seed = int.from_bytes(digest[:8], "big") % (2**32)
        rng = np.random.RandomState(seed)
        return rng.standard_normal(dim).astype(np.float32)

    def layer_activations(self, texts, layer_num, token_mode):
        return np.stack(
            [self._vec(t, f"act:{layer_num}:{token_mode}", self.dim) for t in texts]
        )

    def logit_scores(self, texts, tokens):
        return np.stack(
            [self._vec(t, f"logit:{','.join(tokens)}", len(tokens)) for t in texts]
        )

    def generate(self, texts, max_tokens, temperature):
        return [f"echo[{self.name}]: {t[: max_tokens]}" for t in texts]


@register_model_provider("hf", "huggingface")
class HuggingFaceProvider(ModelProvider):
    """Real transformer activations/logits/generation — requires
    torch+transformers (import-gated; parity surface:
    ``model_registry_implementations.py:245-457``). A CAUSAL-LM head is
    loaded (reference parity: ``:249-260`` uses ``AutoModelForCausalLM``)
    so one checkpoint serves all three ops: ``hidden_states`` for
    activations, last-position lm-head logits for scoring, and
    ``model.generate`` for text generation."""

    def __init__(self, name: str):
        super().__init__(name)
        try:
            import torch  # noqa: F401
            import transformers
        except ImportError as exc:  # pragma: no cover - env without torch
            raise NotImplementedError(
                "huggingface provider requires `torch` and `transformers`; "
                "not installed in this environment"
            ) from exc
        self.tokenizer = transformers.AutoTokenizer.from_pretrained(name)
        self.model = transformers.AutoModelForCausalLM.from_pretrained(name)
        if self.tokenizer.pad_token is None:  # reference :279-280
            self.tokenizer.pad_token = self.tokenizer.eos_token
        self.tokenizer.padding_side = "right"  # reference :323,:337
        self.model.eval()

    def apply_chat_template(self, conversation, append=None):
        """The tokenizer's own template (reference appends raw template
        text after rendering — ``model_registry_implementations.py:291``)."""
        rendered = self.tokenizer.apply_chat_template(
            conversation, tokenize=False, add_generation_prompt=True
        )
        if append:
            rendered += append
        return rendered

    def _encode(self, texts):
        return self.tokenizer(
            [str(t) for t in texts],
            return_tensors="pt",
            padding=True,
            truncation=True,
        )

    def layer_activations(self, texts, layer_num, token_mode):
        import torch

        enc = self._encode(texts)
        with torch.no_grad():
            out = self.model(**enc, output_hidden_states=True)
        if layer_num >= len(out.hidden_states):  # reference :372-375
            raise ValueError(
                f"layer_num {layer_num} out of range for model with "
                f"{len(out.hidden_states)} layers"
            )
        hidden = out.hidden_states[layer_num]
        mask = enc["attention_mask"].unsqueeze(-1)
        if token_mode == "mean":
            pooled = (hidden * mask).sum(1) / mask.sum(1)
        elif token_mode == "last":
            idx = enc["attention_mask"].sum(1) - 1
            pooled = hidden[torch.arange(hidden.shape[0]), idx]
        else:
            raise NotImplementedError(f"token_mode={token_mode!r}")
        return pooled.float().numpy()

    def logit_scores(self, texts, tokens):
        """Last-position lm-head logits at the named tokens' vocab ids
        (reference ``get_llm_output_logits``, ``:409-457`` — including
        the raise on out-of-vocabulary token names)."""
        import torch

        vocab = self.tokenizer.get_vocab()
        idxs = []
        for t in tokens:
            if isinstance(t, int):
                idxs.append(t)
            elif t in vocab:
                idxs.append(vocab[t])
            else:
                raise ValueError(f"Token {t!r} not found in vocabulary")
        enc = self._encode(texts)
        with torch.no_grad():
            out = self.model(**enc)
        last = enc["attention_mask"].sum(1) - 1
        rows = out.logits[torch.arange(out.logits.shape[0]), last][:, idxs]
        return rows.float().numpy()

    def generate(self, texts, max_tokens, temperature):
        """Batched decoder-only generation. Inputs are LEFT-padded for
        this call only (right padding would make the model continue from
        pad tokens); new tokens are decoded without the prompt."""
        import torch

        side = self.tokenizer.padding_side
        self.tokenizer.padding_side = "left"
        try:
            enc = self._encode(texts)
        finally:
            self.tokenizer.padding_side = side
        kwargs = {"do_sample": temperature > 0}
        if temperature > 0:
            kwargs["temperature"] = float(temperature)
        with torch.no_grad():
            out = self.model.generate(
                **enc,
                max_new_tokens=int(max_tokens),
                pad_token_id=self.tokenizer.pad_token_id,
                **kwargs,
            )
        new = out[:, enc["input_ids"].shape[1]:]
        return self.tokenizer.batch_decode(new, skip_special_tokens=True)


@register_model_provider("st", "sentencetransformer")
class SentenceTransformerProvider(ModelProvider):  # pragma: no cover
    def __init__(self, name: str):
        super().__init__(name)
        try:
            from sentence_transformers import SentenceTransformer
        except ImportError as exc:
            raise NotImplementedError(
                "sentencetransformer provider requires `sentence-transformers`"
            ) from exc
        self.model = SentenceTransformer(name)

    def layer_activations(self, texts, layer_num, token_mode):
        return np.asarray(self.model.encode(texts), dtype=np.float32)


@register_model_provider("ollama")
class OllamaProvider(ModelProvider):
    """Local Ollama server (parity surface:
    ``model_registry_implementations.py:22-78``). Stdlib HTTP — no client
    dependency; each executor process keeps one provider and talks to the
    server at ``OLLAMA_HOST`` (default ``http://localhost:11434``).
    Embeddings only expose the final layer / last token, and logit scores
    are unsupported, matching the reference's constraints."""

    def __init__(self, name: str):
        super().__init__(name)
        import os

        self.server_url = os.environ.get(
            "OLLAMA_HOST", "http://localhost:11434"
        ).rstrip("/")

    def _post(self, path: str, payload: dict) -> dict:
        import json
        import urllib.request

        req = urllib.request.Request(
            f"{self.server_url}{path}",
            data=json.dumps(payload).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req, timeout=60.0) as resp:  # pragma: no cover
            return json.loads(resp.read())

    def layer_activations(self, texts, layer_num, token_mode):
        if layer_num != -1:
            raise ValueError(
                "Ollama does not support layer_num; it always returns the last layer."
            )
        if token_mode != "last":
            raise ValueError("Ollama only supports 'last' token mode for embeddings.")
        out = self._post(
            "/api/embed", {"model": self.name, "input": [str(t) for t in texts]}
        )
        return np.asarray(out["embeddings"], dtype=np.float32)  # pragma: no cover

    def logit_scores(self, texts, tokens):
        raise NotImplementedError("Ollama does not support logit scores.")

    def generate(self, texts, max_tokens, temperature):  # pragma: no cover
        results = []
        for t in texts:
            out = self._post(
                "/api/generate",
                {
                    "model": self.name,
                    "prompt": str(t),
                    "stream": False,
                    "options": {"num_predict": max_tokens, "temperature": temperature},
                },
            )
            results.append(out.get("response", ""))
        return results


@register_model_provider("transformerlens", "tl")
class TransformerLensProvider(ModelProvider):  # pragma: no cover
    """TransformerLens hooked activations (parity surface:
    ``model_registry_implementations.py:81-242``): resid_pre of the chosen
    layer, last/mean pooling over the attention mask. Import-gated — needs
    torch + transformer_lens."""

    def __init__(self, name: str):
        super().__init__(name)
        try:
            import torch  # noqa: F401
            from transformer_lens import HookedTransformer
        except ImportError as exc:
            raise NotImplementedError(
                "transformerlens provider requires `torch` and "
                "`transformer_lens`; not installed in this environment"
            ) from exc
        self.model = HookedTransformer.from_pretrained_no_processing(name)
        self.model.eval()

    def layer_activations(self, texts, layer_num, token_mode):
        import torch
        from transformer_lens import utils

        n_layers = self.model.cfg.n_layers
        if layer_num < 0:
            layer_num = n_layers + layer_num
        if not 0 <= layer_num < n_layers:
            raise ValueError(
                f"layer_num {layer_num} out of range for {n_layers}-layer model"
            )
        tok = self.model.to_tokens(list(texts), padding_side="right")
        mask = utils.get_attention_mask(
            self.model.tokenizer, tok, self.model.cfg.default_prepend_bos
        )
        layer_key = f"blocks.{layer_num}.hook_resid_pre"
        with torch.no_grad():
            _, cache = self.model.run_with_cache(
                tok, names_filter=lambda name: name == layer_key
            )
        acts = cache[layer_key].float()
        if token_mode == "last":
            idx = mask.sum(dim=1) - 1
            pooled = acts[torch.arange(acts.shape[0]), idx]
        elif token_mode == "mean":
            m = mask.unsqueeze(-1).float()
            pooled = (acts * m).sum(dim=1) / m.sum(dim=1)
        else:
            raise ValueError(f"Unsupported token_mode: {token_mode!r}")
        return pooled.cpu().numpy().astype(np.float32)


# ---------------------------------------------------------------------- #
# mapInPandas plumbing shared by the three ops                            #
# ---------------------------------------------------------------------- #


def _run_batched(
    runner: SparkRunner,
    col: ColumnPlan,
    out_schema: str,
    batch_fn_name: str,
    model_name: str,
    batch_size: int,
    out_is_text: bool,
    is_conversation: bool = False,
    use_chat_template: bool = False,
    append_to_chat_template: Optional[str] = None,
    **kwargs,
) -> ColumnPlan:
    """Stream (row_id, text) through mapInPandas, batching per
    ``batch_size``, with the per-executor provider cache.

    Conversation inputs (``is_conversation``) arrive as JSON and are
    rendered through the provider's chat template executor-side before
    inference; plain text with ``use_chat_template`` wraps as a single
    user turn first (parity: ``model_registry_implementations.py:291-350``).
    """
    import json

    from ..functions.partitioning import ensure_min_partitions

    text_expr = (
        json_text(col.expr, col.dtype) if is_conversation else col.expr.cast("string")
    )
    # Inference is the most compute-heavy op in the engine: widen narrow
    # scans so every executor core hosts a model replica and a batch stream.
    src = ensure_min_partitions(
        col.source.select(F.col(ROW_ID), text_expr.alias("__text"))
    )
    render_chat = is_conversation or use_chat_template or bool(append_to_chat_template)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        provider = get_provider(model_name)
        fn = getattr(provider, batch_fn_name)

        def prep(texts: list[str]) -> list[str]:
            if not render_chat:
                return texts
            # NULL rows arrive as None (to_json(NULL) is NULL): render as an
            # empty conversation / empty user turn instead of crashing the
            # executor on json.loads(None).
            convs = (
                [json.loads(t) if t is not None else [] for t in texts]
                if is_conversation
                else [[{"role": "user", "content": t if t is not None else ""}]
                      for t in texts]
            )
            return [
                provider.apply_chat_template(c, append_to_chat_template)
                for c in convs
            ]

        for pdf in batches:
            for start in range(0, len(pdf), batch_size):
                chunk = pdf.iloc[start : start + batch_size]
                result = fn(prep(chunk["__text"].tolist()), **kwargs)
                if out_is_text:
                    values = list(result)
                else:
                    values = [np.asarray(v, dtype=np.float32) for v in result]
                yield pd.DataFrame({ROW_ID: chunk[ROW_ID].values, VALUE: values})

    out = src.mapInPandas(run, schema=out_schema)
    return col.derive(F.col(VALUE), source=out)


def _is_conversation(op) -> bool:
    from ..types import ConversationColumnType

    return isinstance(op.input, ConversationColumnType)


@SparkRunner.implementation
def llm_layer_activations(
    runner: SparkRunner, op: LLMLayerActivationsOp
) -> ColumnPlan:
    col = runner.column_plan(op.input)
    return _run_batched(
        runner,
        col,
        f"{ROW_ID} long, {VALUE} array<float>",
        "layer_activations",
        op.model_name,
        op.batch_size,
        out_is_text=False,
        is_conversation=_is_conversation(op),
        use_chat_template=op.use_chat_template,
        layer_num=op.layer_num,
        token_mode=op.token_mode,
    )


@SparkRunner.implementation
def llm_logit_scores(runner: SparkRunner, op: LLMLogitScoresOp) -> ColumnPlan:
    col = runner.column_plan(op.input)
    return _run_batched(
        runner,
        col,
        f"{ROW_ID} long, {VALUE} array<float>",
        "logit_scores",
        op.model_name,
        op.batch_size,
        out_is_text=False,
        is_conversation=_is_conversation(op),
        use_chat_template=op.use_chat_template,
        append_to_chat_template=op.append_to_chat_template,
        tokens=list(op.tokens),
    )


@SparkRunner.implementation
def llm_generate_text(runner: SparkRunner, op: LLMGenerateTextOp) -> ColumnPlan:
    col = runner.column_plan(op.input)
    return _run_batched(
        runner,
        col,
        f"{ROW_ID} long, {VALUE} string",
        "generate",
        op.model_name,
        op.batch_size,
        out_is_text=True,
        is_conversation=_is_conversation(op),
        use_chat_template=op.use_chat_template,
        max_tokens=op.max_tokens,
        temperature=op.temperature,
    )
