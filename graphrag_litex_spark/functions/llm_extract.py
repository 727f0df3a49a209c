"""C1-LLM / H5 / J3: the LLM-backed extractor slot.

Reference behaviors replicated (/root/reference/utils/llm_client.py):
  * chat-completions POST payload shape (:61-68) with a JSON-only suffix
    appended to the prompt (:110-115);
  * JSON repair: slice from the first '{' to the last '}' before parsing
    (:124-128);
  * one parse-retry with a simplified prompt at temperature 0 (:133-145),
    then a structured error envelope with the raw response truncated to 500
    chars (:150-155);
  * transport retry: exponential backoff base 2, max 5 tries (:38-43,
    :95-99) — here INSIDE the batch function (per-row, bounded), so one
    flaky call never fails a 20k-row Arrow batch or the Spark task.

The transport is injectable (``post_fn(payload) -> str``): production wires
an HTTP POST to an OpenAI-compatible endpoint; tests inject a fake flaky
server (tests/test_llm_extract.py). The sandbox has no LLM, so nothing here
runs on the default pipeline path — ``make_llm_extractor`` plugs into
``extract_items(chunks, extractor=...)`` unchanged.
"""

from __future__ import annotations

import json
import urllib.request
from collections.abc import Callable

EMPTY_EXTRACTION: dict = {"entities": [], "relationships": [], "claims": []}

JSON_SUFFIX = (
    "\n\nYour response must be a valid, parseable JSON object. "
    "Do not include any explanations or text outside of the JSON object."
)
RETRY_PREFIX = "Please return the following as a valid JSON object with no additional text.\n\n"

DEFAULT_PROMPT_TEMPLATE = (
    "Extract entities (name, type, description), relationships (source, "
    "target, description, strength in [0,1]) and factual claims (content, "
    "entities) from the text below as JSON with keys 'entities', "
    "'relationships', 'claims'.\n\nTEXT:\n{text}"
)


def repair_json(text: str):
    """First-'{' / last-'}' JSON repair (llm_client.py:124-128).

    Returns the parsed object, or raises json.JSONDecodeError."""
    start = text.find("{")
    end = text.rfind("}")
    if start >= 0 and end > start:
        return json.loads(text[start : end + 1])
    return json.loads(text)


def http_post_fn(base_url: str, model: str = "local-model", timeout: float = 60.0):
    """Production transport: POST /chat/completions, return message content
    (payload shape of llm_client.py:61-68)."""

    def post(payload: dict) -> str:
        body = {
            "model": model,
            "messages": [{"role": "user", "content": payload["prompt"]}],
            "temperature": payload["temperature"],
            "max_tokens": payload.get("max_tokens", 2048),
            "stream": False,
        }
        req = urllib.request.Request(
            f"{base_url}/chat/completions",
            data=json.dumps(body).encode("utf-8"),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            out = json.loads(resp.read().decode("utf-8"))
        return out["choices"][0]["message"]["content"]

    return post


class ScriptedTransport:
    """Canned transport: each call pops the next action ('fail' raises, any
    other string is returned as the response). Picklable + importable, so it
    works inside Spark executors — used by tests and as an offline demo mode
    (no LLM in this sandbox)."""

    def __init__(self, script: list[str]) -> None:
        self.script = list(script)
        self.calls: list[dict] = []

    def __call__(self, payload: dict) -> str:
        self.calls.append(payload)
        action = self.script.pop(0)
        if action == "fail":
            raise ConnectionError("scripted transport failure")
        return action


class LLMExtractorClient:
    """Batch-friendly client: transport retry + JSON repair + parse retry.

    ``post_fn(payload: {prompt, temperature}) -> str`` raises on transport
    failure; ``sleep_fn`` injectable so tests don't wait on real backoff.
    """

    def __init__(
        self,
        post_fn: Callable[[dict], str],
        max_tries: int = 5,
        backoff_base: float = 2.0,
        temperature: float = 0.1,
        sleep_fn: Callable[[float], None] | None = None,
    ) -> None:
        self.post_fn = post_fn
        self.max_tries = max_tries
        self.backoff_base = backoff_base
        self.temperature = temperature
        if sleep_fn is None:
            import time

            sleep_fn = time.sleep
        self.sleep_fn = sleep_fn

    def _generate(self, prompt: str, temperature: float) -> str:
        """Transport with exponential backoff (expo base 2, max 5 tries)."""
        last: Exception | None = None
        for attempt in range(self.max_tries):
            try:
                return self.post_fn({"prompt": prompt, "temperature": temperature})
            except Exception as ex:  # aiohttp.ClientError/TimeoutError analog
                last = ex
                if attempt < self.max_tries - 1:
                    self.sleep_fn(self.backoff_base**attempt)
        raise last  # type: ignore[misc]

    def extract_json(self, prompt: str) -> dict:
        """generate -> repair-parse -> one simplified retry -> error envelope."""
        text = self._generate(prompt.strip() + JSON_SUFFIX, self.temperature)
        try:
            return repair_json(text)
        except json.JSONDecodeError:
            pass
        retry_text = self._generate(RETRY_PREFIX + prompt.strip(), 0.0)
        try:
            return repair_json(retry_text)
        except json.JSONDecodeError:
            return {
                "error": "Failed to parse response as JSON",
                "raw_response": retry_text[:500]
                + ("..." if len(retry_text) > 500 else ""),
            }


def _coerce_extraction(obj: dict) -> dict:
    """Validate/coerce an LLM response into the extraction shape; malformed
    or error-envelope responses become the empty extraction (the reference
    logs & skips failed chunks, simple_entity_extractor.py:114-117)."""
    if not isinstance(obj, dict) or "error" in obj:
        return EMPTY_EXTRACTION
    out = {"entities": [], "relationships": [], "claims": []}
    for e in obj.get("entities") or []:
        if isinstance(e, dict) and e.get("name"):
            out["entities"].append(
                {
                    "name": str(e["name"]),
                    "type": str(e.get("type", "UNKNOWN")),
                    "description": str(e.get("description", "")),
                }
            )
    for r in obj.get("relationships") or []:
        if isinstance(r, dict) and r.get("source") and r.get("target"):
            try:
                strength = float(r.get("strength", 0.5))
            except (TypeError, ValueError):
                strength = 0.5
            # H9 clamp to [0,1] (models/relationship.py:17-24)
            strength = min(1.0, max(0.0, strength))
            out["relationships"].append(
                {
                    "source": str(r["source"]),
                    "target": str(r["target"]),
                    "description": str(r.get("description", "")),
                    "strength": strength,
                }
            )
    for c in obj.get("claims") or []:
        if isinstance(c, dict) and c.get("content"):
            ents = c.get("entities") or []
            out["claims"].append(
                {
                    "content": str(c["content"]),
                    "entities": [str(x) for x in ents],
                }
            )
    return out


def make_llm_extractor(
    client: LLMExtractorClient,
    prompt_template: str = DEFAULT_PROMPT_TEMPLATE,
) -> Callable[[str], dict]:
    """-> ``text -> extraction dict`` pluggable into extract_items
    (same slot as the deterministic default)."""

    def extractor(text: str) -> dict:
        if not text:
            return EMPTY_EXTRACTION
        return _coerce_extraction(
            client.extract_json(prompt_template.format(text=text))
        )

    return extractor
