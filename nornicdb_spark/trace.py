"""Driver-side counts of what a query costs outside Spark's own metrics.

``CommandCounter`` counts the py4j commands the Python driver sends to
the JVM: every DataFrame, Column and Catalyst call a plan build makes is
one round trip, so the count is the part of a build that neither Spark
jobs nor Catalyst phases explain.
"""

from __future__ import annotations

from py4j.clientserver import ClientServerConnection


class CommandCounter:
    """Counts py4j commands sent inside a ``with`` block, from every
    thread. GC release (``m``) commands are not counted: their number
    follows garbage-collection timing, not the work done.

        with CommandCounter() as sent:
            build()
        sent.n
    """

    def __init__(self):
        self.n = 0

    def __enter__(self) -> CommandCounter:
        self.n = 0
        send = self._send = ClientServerConnection.send_command

        def counting(conn, command):
            if not command.startswith("m\n"):
                self.n += 1
            return send(conn, command)

        ClientServerConnection.send_command = counting
        return self

    def __exit__(self, *exc) -> None:
        ClientServerConnection.send_command = self._send
