package graft.sources

import java.net.Socket

import jdk.net.ExtendedSocketOptions.TCP_QUICKACK

/** Linux `TCP_QUICKACK` on the client side of the protocol
  * connections: ACK what a socket has received NOW instead of when the
  * ~40 ms delayed-ACK timer fires. A peer with Nagle on cannot send its
  * next small segment while one is unacknowledged, so a client that
  * only reads (an FTP `150` followed by the `226`, an SSH reply
  * followed by the next one) otherwise waits out the timer. The mode
  * is not sticky — the kernel falls back to delayed ACKs on its own —
  * so callers set it after each read they want ACKed at once. Where
  * the platform lacks the option this does nothing.
  */
object QuickAck {
  lazy val supported: Boolean = {
    val probe = new Socket()
    try probe.supportedOptions.contains(TCP_QUICKACK) finally probe.close()
  }

  def apply(s: Socket): Unit =
    if (supported)
      try s.setOption(TCP_QUICKACK, java.lang.Boolean.TRUE)
      catch { case _: java.io.IOException => () } // closed: nothing to ACK
}
