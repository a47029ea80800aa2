"""Real LLM client factory for the optional T11 enrichment stage.

Implements the reference client's retry discipline against any
OpenAI-compatible HTTP endpoint (semantics re-derived from
/root/reference/backend/app/services/llm/client.py:560-632):

- up to ``max_retries`` attempts on the primary provider;
- HTTP 429 between attempts backs off ``min(2**attempt, 10)`` seconds
  (client.py:598-603);
- HTTP 400/401/403/404 are non-retryable — stop hammering the primary
  immediately (client.py:606-616);
- after the primary is exhausted, the fallback provider gets exactly
  ONE try; if it also fails, the LAST PRIMARY error is raised
  (client.py:619-632).

The factory returns the ``list[str] -> list[str]`` callable
``engine.spark.llm.llm_enrich`` expects, resolved lazily per executor.
Transport is injected (default: stdlib urllib POST) so the retry and
fallback ordering are fully testable offline with canned responses —
the stage stays OUT of the deterministic correctness gate either way
(SURVEY.md §7.3.6)."""

from __future__ import annotations

import http.client
import json
import time
import urllib.error
import urllib.request
from collections.abc import Callable
from dataclasses import dataclass, field

# transport contract: (url, json_payload, headers, timeout_s) ->
# (status, body_text). Anything non-2xx is reported via the status;
# transport-level failures (DNS, refused) surface as status 599 with
# the error text as body.
Transport = Callable[[str, dict, dict, float], tuple[int, str]]

NON_RETRYABLE = frozenset({400, 401, 403, 404})
MAX_BACKOFF_S = 10.0


class LLMHttpError(RuntimeError):
    def __init__(self, status: int, body: str):
        super().__init__(f"HTTP {status}: {body[:200]}")
        self.status = status
        self.body = body


@dataclass(frozen=True)
class ProviderConfig:
    """One LLM endpoint. ``wire`` selects the protocol:

    - ``"openai"`` (default): POST ``{base_url}/chat/completions`` with
      a messages array; content at ``choices[0].message.content``.
    - ``"ollama"``: the reference's LOCAL provider
      (ollama_client.py:111-226) — POST ``{base_url}/api/generate``
      with ``{model, prompt, stream: false, options: {temperature,
      num_predict}}`` plus optional ``system`` and ``format: "json"``;
      content at ``response`` (stripped, empty ⇒ error). The
      remote-primary → local-Ollama-fallback pairing the reference
      runs is expressed by passing an ollama-wire config as
      ``fallback``."""

    base_url: str
    model: str
    api_key: str | None = None
    temperature: float = 0.0
    max_tokens: int = 1024
    timeout_s: float = 30.0
    extra_headers: dict = field(default_factory=dict)
    wire: str = "openai"
    system: str | None = None
    json_mode: bool = False


def _urllib_transport(
    url: str, payload: dict, headers: dict, timeout_s: float
) -> tuple[int, str]:
    data = json.dumps(payload).encode()
    req = urllib.request.Request(
        url, data=data, headers={"Content-Type": "application/json", **headers}
    )
    try:
        with urllib.request.urlopen(req, timeout=timeout_s) as r:
            return r.status, r.read().decode("utf-8", "replace")
    except urllib.error.HTTPError as e:
        return e.code, e.read().decode("utf-8", "replace")
    except (OSError, http.client.HTTPException) as e:
        # DNS / refused / timeout / malformed status line / truncated
        # body — all retryable transport faults. HTTPException is NOT
        # an OSError (round-4 review): without it a flaky server's
        # BadStatusLine/IncompleteRead bypassed the whole retry ladder
        # and killed the Spark task on one transient glitch.
        return 599, str(e)


def _call_provider(
    cfg: ProviderConfig, prompt: str, transport: Transport
) -> str:
    headers = dict(cfg.extra_headers)
    if cfg.api_key:
        headers["Authorization"] = f"Bearer {cfg.api_key}"
    if cfg.wire == "ollama":
        # reference wire shape: ollama_client.py:141-160
        payload = {
            "model": cfg.model,
            "prompt": prompt,
            "stream": False,
            "options": {
                "temperature": cfg.temperature,
                "num_predict": cfg.max_tokens,
            },
        }
        if cfg.system:
            payload["system"] = cfg.system
        if cfg.json_mode:
            payload["format"] = "json"
        url = cfg.base_url.rstrip("/") + "/api/generate"
        status, body = transport(url, payload, headers, cfg.timeout_s)
        if not (200 <= status < 300):
            raise LLMHttpError(status, body)
        try:
            content = json.loads(body).get("response", "").strip()
        except (TypeError, ValueError) as e:
            raise LLMHttpError(200, f"malformed ollama body: {e}") from e
        if not content:
            # ollama_client.py:198-199 — empty response is an error
            raise LLMHttpError(200, "empty response from model")
        return content
    messages = (
        [{"role": "system", "content": cfg.system}] if cfg.system else []
    ) + [{"role": "user", "content": prompt}]
    payload = {
        "model": cfg.model,
        "messages": messages,
        "temperature": cfg.temperature,
        "max_tokens": cfg.max_tokens,
    }
    url = cfg.base_url.rstrip("/") + "/chat/completions"
    status, body = transport(url, payload, headers, cfg.timeout_s)
    if not (200 <= status < 300):
        raise LLMHttpError(status, body)
    try:
        return json.loads(body)["choices"][0]["message"]["content"]
    except (KeyError, IndexError, TypeError, ValueError) as e:
        raise LLMHttpError(200, f"malformed completion body: {e}") from e


def generate_with_retry(
    primary: ProviderConfig,
    prompt: str,
    fallback: ProviderConfig | None = None,
    max_retries: int = 3,
    transport: Transport = _urllib_transport,
    sleep: Callable[[float], None] = time.sleep,
) -> str:
    """One prompt through the reference retry ladder (client.py:560-632)."""
    last_error: Exception | None = None
    for attempt in range(max_retries):
        try:
            return _call_provider(primary, prompt, transport)
        except LLMHttpError as e:
            last_error = e
            if e.status == 429 and attempt < max_retries - 1:
                sleep(min(2.0**attempt, MAX_BACKOFF_S))
            if e.status in NON_RETRYABLE:
                break  # client.py:606-616 — do not hammer on 4xx auth/shape
    if fallback is not None:
        try:
            return _call_provider(fallback, prompt, transport)
        except LLMHttpError:
            pass  # fall through to the primary's error (client.py:626-630)
    raise last_error if last_error is not None else LLMHttpError(0, "no provider")


def http_client_factory(
    primary: ProviderConfig,
    fallback: ProviderConfig | None = None,
    max_retries: int = 3,
    transport: Transport = _urllib_transport,
    sleep: Callable[[float], None] = time.sleep,
) -> Callable[[], Callable[[list[str]], list[str]]]:
    """Build the picklable ``client_factory`` for ``llm_enrich``.

    Config travels by value (dataclasses), so the returned factory
    serializes cleanly to executors; each Python worker materializes
    its own client on first use. Prompts in a batch run sequentially —
    the Arrow-batched stage already fans batches across workers, and the
    retry state is deliberately per-prompt (one poisoned document must
    not burn the batch's retry budget)."""

    def factory() -> Callable[[list[str]], list[str]]:
        def client(prompts: list[str]) -> list[str]:
            return [
                generate_with_retry(
                    primary,
                    p,
                    fallback=fallback,
                    max_retries=max_retries,
                    transport=transport,
                    sleep=sleep,
                )
                for p in prompts
            ]

        return client

    return factory
