"""Chat-completions stub: one single-threaded asyncio process with a fixed
injected latency.

It answers ``POST .../chat/completions`` with
``md5(f"{model}:{system}\\n\\n{user}")`` (``md5(f"{model}:{user}")`` when no
system message is sent) — the rule ``MockLlm`` and ``EchoAsyncLlm`` use — so
every completion the package receives can be checked against a ``MockLlm``
run of the same input.

Counters, read and reset over HTTP by the benchmark:

- ``GET /stats``  -> requests, peak in-flight, and every request's open
  interval ``[start, end]`` in wall-clock seconds (``time.time()``, so the
  benchmark can place them under its own spans and phases);
- ``POST /reset`` -> zero all counters.

Run: ``python3 perfbench/stub.py --latency-ms 50``; it prints the bound port
on its first stdout line and serves until terminated.
"""

from __future__ import annotations

import argparse
import asyncio
import hashlib
import json
import signal
import sys
import time


def completion(model: str, messages: list[dict]) -> str:
    system = next((m["content"] for m in messages if m.get("role") == "system"), None)
    user = next(m["content"] for m in messages if m.get("role") == "user")
    prompt = user if system is None else f"{system}\n\n{user}"
    return hashlib.md5(f"{model}:{prompt}".encode()).hexdigest()


_REASONS = {200: "OK", 400: "Bad Request", 404: "Not Found"}


class Stub:
    def __init__(self, latency_s: float):
        self.latency_s = latency_s
        self.reset()

    def reset(self) -> None:
        self.requests = 0
        self.in_flight = 0
        self.peak_in_flight = 0
        self.intervals: list[tuple[float, float]] = []

    async def chat(self, body: bytes) -> dict:
        start = time.time()
        self.requests += 1
        self.in_flight += 1
        self.peak_in_flight = max(self.peak_in_flight, self.in_flight)
        try:
            payload = json.loads(body)
            model = payload["model"]
            content = completion(model, payload["messages"])
            await asyncio.sleep(self.latency_s)
        finally:
            self.in_flight -= 1
            self.intervals.append((start, time.time()))
        return {
            "object": "chat.completion",
            "model": model,
            "choices": [
                {
                    "index": 0,
                    "finish_reason": "stop",
                    "message": {"role": "assistant", "content": content},
                }
            ],
        }

    async def handle(self, reader: asyncio.StreamReader, writer: asyncio.StreamWriter) -> None:
        try:
            while True:
                head = await reader.readuntil(b"\r\n\r\n")
                lines = head.decode("latin-1").split("\r\n")
                method, path, _ = lines[0].split(" ", 2)
                headers = {
                    k.strip().lower(): v.strip()
                    for k, v in (ln.split(":", 1) for ln in lines[1:] if ":" in ln)
                }
                body = await reader.readexactly(int(headers.get("content-length", "0")))
                if method == "POST" and path.endswith("/chat/completions"):
                    try:
                        status, reply = 200, await self.chat(body)
                    except (ValueError, KeyError, StopIteration) as e:
                        status, reply = 400, {"error": f"bad chat payload: {e!r}"}
                elif method == "GET" and path == "/stats":
                    status, reply = 200, {
                        "requests": self.requests,
                        "peak_in_flight": self.peak_in_flight,
                        "intervals": self.intervals,
                    }
                elif method == "POST" and path == "/reset":
                    self.reset()
                    status, reply = 200, {"ok": True}
                else:
                    status, reply = 404, {"error": f"unknown route {method} {path}"}
                data = json.dumps(reply).encode()
                close = headers.get("connection", "").lower() == "close"
                writer.write(
                    f"HTTP/1.1 {status} {_REASONS[status]}\r\n"
                    f"Content-Type: application/json\r\nContent-Length: {len(data)}\r\n"
                    f"Connection: {'close' if close else 'keep-alive'}\r\n\r\n".encode()
                    + data
                )
                await writer.drain()
                if close:
                    break
        except (asyncio.IncompleteReadError, ConnectionError):
            pass
        finally:
            writer.close()


async def main(latency_ms: float) -> None:
    stub = Stub(latency_ms / 1000.0)
    server = await asyncio.start_server(stub.handle, "127.0.0.1", 0, backlog=1024)
    print(server.sockets[0].getsockname()[1], flush=True)
    stop = asyncio.Event()
    loop = asyncio.get_running_loop()
    for sig in (signal.SIGTERM, signal.SIGINT):
        loop.add_signal_handler(sig, stop.set)
    async with server:
        await stop.wait()


if __name__ == "__main__":
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--latency-ms", type=float, required=True)
    asyncio.run(main(parser.parse_args().latency_ms))
    sys.exit(0)
