"""Byte-counting wrapper around a pyarrow filesystem (traced runs only).

``CountingFS`` proxies every call to the wrapped filesystem; files it opens
count the bytes read from and written to storage and, on close, append
``"<r|w> <bytes>"`` to a per-process log under ``log_dir``. It pickles by
value, so a Spark task that receives it from the driver counts its own I/O
in the Python worker; :func:`totals` sums every process's log.
"""

from __future__ import annotations

import os


class _CountingFile:
    def __init__(self, f, log_dir: str, mode: str):
        self._f = f
        self._log_dir = log_dir
        self._mode = mode
        self._n = 0

    def read(self, *args):
        data = self._f.read(*args)
        self._n += len(data)
        return data

    def write(self, data):
        self._n += len(data)
        return self._f.write(data)

    def close(self):
        if not self._f.closed:
            with open(os.path.join(self._log_dir, f"{os.getpid()}.log"), "a") as fh:
                fh.write(f"{self._mode} {self._n}\n")
        self._f.close()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()

    def __getattr__(self, name):
        return getattr(self._f, name)


class CountingFS:
    def __init__(self, fs, log_dir: str):
        self._fs = fs
        self._log_dir = log_dir

    def __reduce__(self):
        return (CountingFS, (self._fs, self._log_dir))

    def open_input_file(self, path):
        return _CountingFile(self._fs.open_input_file(path), self._log_dir, "r")

    def open_output_stream(self, path, *args, **kwargs):
        return _CountingFile(
            self._fs.open_output_stream(path, *args, **kwargs), self._log_dir, "w"
        )

    def __getattr__(self, name):
        return getattr(self._fs, name)


def totals(log_dir: str) -> tuple[int, int]:
    """(bytes read, bytes written) over every process's log."""
    read = written = 0
    for name in os.listdir(log_dir):
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                mode, n = line.split()
                if mode == "r":
                    read += int(n)
                else:
                    written += int(n)
    return read, written
