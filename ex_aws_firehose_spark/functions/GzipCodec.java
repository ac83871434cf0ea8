package ex_aws_firehose_spark.functions;

import java.io.ByteArrayOutputStream;
import java.util.zip.CRC32;
import java.util.zip.DataFormatException;
import java.util.zip.Deflater;
import java.util.zip.Inflater;

import org.apache.spark.sql.api.java.UDF1;

/**
 * Gzip codec as JVM scalar UDFs (see codec.py, which compiles and
 * registers them). Both map NULL to NULL.
 *
 * <p>{@link Decompress} follows CPython's {@code gzip.decompress} member
 * loop exactly: every member is decoded and CRC/ISIZE-checked, zero bytes
 * between or after members are skipped, and anything else after a member
 * must be another gzip header. {@code GZIPInputStream} is not used: it
 * silently drops trailing bytes that are not a header, where Python
 * rejects the input. Any input Python would reject decodes to NULL, so a
 * corrupt record dead-letters instead of failing its batch.
 *
 * <p>{@link Compress} writes what {@code gzip.compress(b, 6, mtime=0)}
 * writes: the fixed 10-byte header (no name, mtime 0, XFL 0, OS unix),
 * raw level-6 deflate, then the CRC32/ISIZE trailer.
 */
public final class GzipCodec {
  private static final byte[] HEADER = {
    0x1f, (byte) 0x8b, 8, 0, 0, 0, 0, 0, 0, 3
  };
  private static final int FHCRC = 2, FEXTRA = 4, FNAME = 8, FCOMMENT = 16;

  private GzipCodec() {}

  public static final class Decompress implements UDF1<byte[], byte[]> {
    @Override
    public byte[] call(byte[] data) {
      return data == null ? null : gunzip(data);
    }
  }

  public static final class Compress implements UDF1<byte[], byte[]> {
    @Override
    public byte[] call(byte[] data) {
      return data == null ? null : gzip(data);
    }
  }

  /** The decoded members of {@code data} concatenated; null if undecodable. */
  static byte[] gunzip(byte[] data) {
    ByteArrayOutputStream out = new ByteArrayOutputStream(4 * Math.min(data.length, 1 << 20) + 64);
    byte[] buf = new byte[16384];
    Inflater inflater = new Inflater(true);
    CRC32 crc = new CRC32();
    try {
      int pos = 0;
      while (pos < data.length) {
        pos = skipHeader(data, pos);
        if (pos < 0) {
          return null;
        }
        inflater.reset();
        crc.reset();
        inflater.setInput(data, pos, data.length - pos);
        long size = 0;
        while (!inflater.finished()) {
          int n = inflater.inflate(buf);
          if (n == 0 && !inflater.finished()) {
            return null; // truncated stream: no output and no progress possible
          }
          out.write(buf, 0, n);
          crc.update(buf, 0, n);
          size += n;
        }
        pos = data.length - inflater.getRemaining();
        if (data.length - pos < 8
            || readIntLE(data, pos) != (int) crc.getValue()
            || readIntLE(data, pos + 4) != (int) size) {
          return null;
        }
        pos += 8;
        while (pos < data.length && data[pos] == 0) {
          pos++;
        }
      }
      return out.toByteArray();
    } catch (DataFormatException e) {
      return null;
    } finally {
      inflater.end();
    }
  }

  /**
   * The offset of the deflate stream after the member header at {@code pos},
   * or -1 when the header is malformed or cut short.
   */
  private static int skipHeader(byte[] d, int pos) {
    if (d.length - pos < 10 || d[pos] != 0x1f || d[pos + 1] != (byte) 0x8b || d[pos + 2] != 8) {
      return -1;
    }
    int flags = d[pos + 3] & 0xff;
    pos += 10;
    if ((flags & FEXTRA) != 0) {
      if (d.length - pos < 2) {
        return -1;
      }
      int len = (d[pos] & 0xff) | (d[pos + 1] & 0xff) << 8;
      pos += 2;
      if (d.length - pos < len) {
        return -1;
      }
      pos += len;
    }
    for (int field : new int[] {FNAME, FCOMMENT}) {
      if ((flags & field) != 0) { // zero-terminated; a missing terminator ends the input
        while (pos < d.length && d[pos++] != 0) {}
      }
    }
    if ((flags & FHCRC) != 0) {
      if (d.length - pos < 2) {
        return -1;
      }
      pos += 2;
    }
    return pos;
  }

  static byte[] gzip(byte[] data) {
    ByteArrayOutputStream out = new ByteArrayOutputStream(data.length / 2 + 64);
    out.write(HEADER, 0, HEADER.length);
    byte[] buf = new byte[16384];
    Deflater deflater = new Deflater(6, true);
    try {
      deflater.setInput(data);
      deflater.finish();
      while (!deflater.finished()) {
        out.write(buf, 0, deflater.deflate(buf));
      }
    } finally {
      deflater.end();
    }
    CRC32 crc = new CRC32();
    crc.update(data);
    writeIntLE(out, (int) crc.getValue());
    writeIntLE(out, data.length);
    return out.toByteArray();
  }

  private static int readIntLE(byte[] d, int pos) {
    return (d[pos] & 0xff)
        | (d[pos + 1] & 0xff) << 8
        | (d[pos + 2] & 0xff) << 16
        | (d[pos + 3] & 0xff) << 24;
  }

  private static void writeIntLE(ByteArrayOutputStream out, int v) {
    for (int i = 0; i < 4; i++) {
      out.write(v >>> (8 * i));
    }
  }
}
